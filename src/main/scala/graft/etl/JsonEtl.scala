package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType,
  LongType, StringType, StructField, StructType}
import graft.Tables

/** ETL surface (SURVEY §2.B) — the pyetl-equivalent pipeline re-expressed as
  * declarative Spark transforms over the `events` stream table.
  *
  * pyetl's loop (consume JSON → parse → enrich → partition-by-day → route →
  * write) maps to: tolerant JSON parse ([[jsonExtract]]), ingest enrichment +
  * day partition derivation ([[enrichPartition]]), predicate routing
  * ([[routeFilter]]), keyed upsert a.k.a. latest-per-key ([[latestByKey]]),
  * plus the analytic shapes a landed event stream needs (sessionization,
  * tumbling windows). Sinks/rolling live in [[Sinks]] (spec-only — no single
  * DataFrame result to oracle-check).
  *
  * Scale notes: every query here is a scan + (at most) one hash shuffle on a
  * declared key (`user_id` or the derived window), so the plans survive a
  * 1000-executor 100 TB run: partial aggregation is map-side, the JSON parse
  * and window math are codegen'd expressions (no UDFs), and ordering is only
  * for oracle determinism (a real pipeline drops the final sort).
  *
  * events.ts arrives as a nanos-epoch LongType regardless of the parquet
  * generation on disk ([[graft.Tables.tsToNanos]] normalizes TIMESTAMP(NANOS)
  * and TIMESTAMP(MICROS) sources to one representation at the read
  * boundary); DuckDB reads the same instants as timestamps. All time math
  * therefore happens on floor-seconds, identical in both engines.
  */
object JsonEtl {

  private val D = DecimalType(18, 2)
  /** Floor epoch-seconds from the nanos-epoch long `ts` column. EXACT
    * integer arithmetic via IntegralDivide (`div` — a codegen'd long
    * division): the old `(ts / 1e9).cast(long)` coerced to double, whose
    * 2^53 mantissa makes nanos magnitudes (~1.7e18, ULP 256 ns) round
    * across second boundaries — any timestamp within ~128 ns below a
    * boundary would floor differently from the oracle's integer
    * `epoch_ms(ts)//1000`. (Positive epochs, so truncating division IS
    * floor.) Shared (private[graft]) so every module computes ts
    * semantics one way.
    */
  private[graft] def tsSec(c: Column): Column =
    call_function("div", c, lit(1000000000L)).cast(LongType)

  // ------------------------------------------------------------ json extract
  /** Parse the embedded JSON string column (pyetl's "message body") into
    * typed columns. `get_json_object` is a codegen'd Catalyst expression —
    * at 100 TB this is a pure map stage, no shuffle.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .orderBy(col("event_id"))

  // ------------------------------------------------------------ enrich
  /** pyetl enrich step: derive the day partition column from the event
    * timestamp, normalize the type tag to lowercase, drop the raw payload.
    */
  def enrichPartition(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .select(col("event_id"),
        date_format(timestamp_seconds(tsSec(col("ts"))), "yyyy-MM-dd").as("day"),
        lower(col("event_type")).as("etype"),
        col("user_id"), col("value"))
      .orderBy(col("event_id"))

  // ------------------------------------------------------------ route
  /** One route of pyetl's predicate fan-out: high-value purchases. The
    * predicate is pushed to the parquet scan (PushedFilters), so the other
    * routes' rows are never materialized here.
    */
  def routeFilter(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .filter(col("event_type") === "purchase" && col("value") > 50.0)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  // ------------------------------------------------------------ latest by key
  /** Keyed upsert semantics (pyetl's key-value-table destination): the
    * surviving record per key is the latest by timestamp (event_id breaks
    * ties). One shuffle on the key; at 100 TB this is the standard
    * dedup-to-current-state compaction.
    */
  def latestByKey(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir).events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        lower(col("event_type")).as("etype"), col("value"),
        tsSec(col("ts")).as("ts_epoch"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------ sessionize
  /** Gap-based sessionization (30-min inactivity closes a session): lag →
    * new-session flag → running sum = session index → per-session rollup.
    * Both windows share the (user_id, ts, event_id) ordering so Spark plans
    * a single shuffle + sort for the whole chain.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val ev = Tables(s, dir).events
      .select(col("user_id"), col("event_id"), col("value"), tsSec(col("ts")).as("sec"))
    ev.withColumn("prev", lag(col("sec"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1L).otherwise(0L))
      .withColumn("sess_idx",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(min(col("sec")).as("session_start"),
        max(col("sec")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast(DoubleType).as("sum_value"))
      .orderBy(col("user_id"), col("sess_idx"))
  }

  // ------------------------------------------------------------ tumbling
  /** 5-minute tumbling-window aggregates (batch form; the streaming twin is
    * graft.streaming.Streams.windowCounts). Window start is pure integer
    * math on floor-seconds — identical across engines and codegen-friendly.
    */
  def tumblingWindow(s: SparkSession, dir: String): DataFrame = {
    val sec = tsSec(col("ts"))
    Tables(s, dir).events
      .groupBy((sec - (sec % lit(300L))).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast(DoubleType).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  // ------------------------------------------------------------ sliding
  /** 10-minute windows sliding every 5 minutes (hopping windows, batch
    * form): each event lands in exactly two windows via a 2-element
    * explode — the standard batch re-expression of streaming hop windows.
    * Map-side partial aggregation absorbs the 2× row fan-out.
    */
  def slidingWindow(s: SparkSession, dir: String): DataFrame = {
    val sec = tsSec(col("ts"))
    val base = sec - (sec % lit(300L))
    Tables(s, dir).events
      .select(col("event_type"), col("value"),
        explode(array(base, base - lit(300L))).as("window_start"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast(DoubleType).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  // ------------------------------------------------------------ flatten
  /** Recursively flatten nested struct columns to top-level columns with
    * `sep`-joined names — the "JSON objects become flat table columns" step
    * of a config-driven ETL. Pure projection: zero-cost in the scan stage
    * at any scale.
    */
  def flattenStruct(df: DataFrame, sep: String = "_"): DataFrame = {
    import org.apache.spark.sql.types.StructType
    def expand(schema: StructType, path: Seq[String]): Seq[Column] =
      schema.fields.toSeq.flatMap { f =>
        val p = path :+ f.name
        f.dataType match {
          case st: StructType => expand(st, p)
          case _ => Seq(col(p.map(n => s"`$n`").mkString(".")).as(p.mkString(sep)))
        }
      }
    df.select(expand(df.schema, Nil): _*)
  }

  // ------------------------------------------------------------ redact
  private[etl] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[etl] val PhoneRe = "\\+?[0-9][0-9\\-\\s()]{6,}[0-9]"

  /** In-place PII scrub of a string column (see [[redact]] for the audited
    * document form) — used by Pipeline's config-driven `redact` key and the
    * streaming curation gate (stateless, so it streams unchanged).
    */
  private[graft] def scrub(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** PII scrubbing — the pre-landing redaction step of an ingest pipeline:
    * emails and phone-shaped digit runs are replaced with typed placeholder
    * tokens, and per-record match counts are kept for audit. Pure codegen'd
    * map stage (regexp_replace / regexp_extract_all) — no shuffle, so at
    * 100 TB it rides the ingest scan for free. Patterns are RE2-compatible
    * so the DuckDB oracle applies them verbatim.
    */
  def redact(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"),
      scrub(col(textCol)).as("redacted"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast(LongType).as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .cast(LongType).as("n_phones"))
      .orderBy(col("doc_id"))

  def redactDocs(s: SparkSession, dir: String): DataFrame =
    redact(Tables(s, dir).documents, "text")

  // ------------------------------------------------------------ pseudonymize
  /** Keyed pseudonymization: replace identity columns with stable salted
    * digests — the sibling of [[redact]] for STRUCTURED identifiers.
    * Redaction destroys the value; pseudonymization preserves the JOIN
    * TOPOLOGY (same value + same salt → same token, across every table
    * sharing the salt) while keeping no reversible mapping anywhere, so
    * downstream analytics still group/join on the token. sha2-256 of
    * salt:value, a pure codegen'd map stage — zero shuffle, rides the
    * ingest scan at 100 TB exactly like redaction. Rotating the salt
    * unlinks all prior tokens at once (the GDPR re-keying lever). Null
    * identities stay null (concat propagates them) rather than collapsing
    * onto a shared "null token" join key.
    */
  def pseudonymize(df: DataFrame, idCols: Seq[String],
      salt: String): DataFrame =
    idCols.foldLeft(df)((d, c) => d.withColumn(c,
      sha2(concat(lit(salt), lit(":"), col(c).cast(StringType)), 256)))

  /** Gate entry: events with user_id tokenized under a fixed demo salt
    * (production salt comes from a secret store, not source code).
    */
  def pseudonymizeEvents(s: SparkSession, dir: String): DataFrame =
    pseudonymize(Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("event_type")),
      Seq("user_id"), "pepper")
      .orderBy(col("event_id"))

  // ------------------------------------------------------------ gap fill
  /** Time-series resampling with gap fill: per user-bucket hourly series
    * over the full observed range, empty hours ZERO-filled for counts and
    * FORWARD-filled (last observation carried forward) for the running
    * value — the regularization step before any windowed model sees the
    * data. The dense grid is buckets × hours built from two tiny frames
    * (the crossJoin is dimension metadata, not data — 10 × |hours| rows);
    * observations land on it via a left join on the (bucket, hour) key and
    * the forward fill is one window per bucket. At 100 TB the grid is
    * still keys × hours — independent of event volume.
    */
  /** General form — the operator users actually reach for: any key
    * expression, any grain, any mix of fill strategies. `zeroFills` are
    * aggregates whose empty periods read as 0 (counts, sums-as-activity);
    * `locfFills` are carried forward from the last observed period per
    * key (running values, balances). Output schema is fixed:
    * (bucket, h, <zeroFills names>, <locfFills names>) with h = floor
    * epoch-seconds / grainSec. The grid stays keys × periods regardless
    * of event volume, and the LOCF windows all share the one
    * (bucket-partitioned, h-ordered) sort.
    */
  def gapFill(events: DataFrame, key: Column, tsSecCol: Column, grainSec: Long,
      zeroFills: Seq[(String, Column)], locfFills: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(grainSec > 0, s"grainSec must be positive, got $grainSec")
    require(zeroFills.nonEmpty || locfFills.nonEmpty, "no fill columns given")
    val names = (zeroFills ++ locfFills).map(_._1)
    val reserved = Set("bucket", "h", "__bucket", "__h")
    require(names.distinct == names && !names.exists(reserved),
      s"fill names must be unique and avoid the fixed output columns $reserved: $names")
    val base = events
      .withColumn("__bucket", key)
      // floor division, as documented: (x / y).cast(Long) truncates toward
      // zero, which rounds the WRONG way for pre-epoch (negative) seconds
      .withColumn("__h", floor(tsSecCol / lit(grainSec)).cast(LongType))
    val aggCols = (zeroFills ++ locfFills).map { case (n, c) => c.as(n) }
    val agg = base.groupBy(col("__bucket"), col("__h"))
      .agg(aggCols.head, aggCols.tail: _*)
    val bounds = base.agg(min(col("__h")).as("h0"), max(col("__h")).as("h1"))
    val grid = base.select(col("__bucket")).distinct()
      .crossJoin(broadcast(bounds.select(explode(sequence(col("h0"), col("h1"))).as("__h"))))
    val w = Window.partitionBy(col("__bucket")).orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outCols =
      zeroFills.map { case (n, _) => coalesce(col(n), lit(0L)).as(n) } ++
        locfFills.map { case (n, _) => last(col(n), ignoreNulls = true).over(w).as(n) }
    grid.join(agg, Seq("__bucket", "__h"), "left")
      .select(col("__bucket").as("bucket") +: col("__h").as("h") +: outCols: _*)
      .orderBy(col("bucket"), col("h"))
  }

  /** The gate instance: user-bucket key, hourly grain, zero-filled event
    * count + LOCF running hourly value sum — oracle-exact.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame =
    gapFill(Tables(s, dir).events,
      col("user_id") % 10, tsSec(col("ts")), 3600L,
      zeroFills = Seq("n" -> count(lit(1))),
      locfFills = Seq(
        "filled_value" -> sum(col("value").cast(D)).cast(DoubleType)))

  // ------------------------------------------------------------ scd2
  /** Slowly-changing-dimension type-2 build from a change log — the
    * warehouse twin of [[latestByKey]]: instead of keeping only the latest
    * record per key, every change becomes a versioned row with a validity
    * interval ([valid_from, valid_to) in floor-seconds; the open row has a
    * NULL valid_to and is_current = 1). One shuffle on the key + one
    * window; the per-key sort that lead() needs shares the shuffle. Both
    * engines order by (floor-sec, event_id) — ordering by the raw nanos ts
    * would diverge where DuckDB has truncated to micros.
    */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    Tables(s, dir).events
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("value"),
        tsSec(col("ts")).as("sec"))
      .withColumn("valid_to", lead(col("sec"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("value"),
        col("sec").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  // ------------------------------------------------ incremental aggregate
  /** Per-key aggregate STATE for incremental maintenance — pyetl's rolling
    * keyed aggregation as algebra: only ADDITIVE statistics persist
    * (count, exact-decimal sum, min, max), because those are the ones
    * where agg(history ∪ batch) = combine(agg_history, agg_batch) holds
    * exactly — a nightly job folds each day's partial in without ever
    * rescanning history. Derived stats (avg = sum_value / n_events) are
    * read-time views over the state, never stored: storing a non-additive
    * stat is the classic incremental-ETL bug (it silently stops being
    * maintainable). The sum is DECIMAL, not double: double addition is
    * partition-order-dependent, so a double state would make
    * fold ≡ recompute only approximately — decimal makes it bit-exact
    * (spec-pinned, and why the gate entry can be oracle-checked). The
    * sum column is pinned to DECIMAL(28,2) so the folded state's schema
    * equals the one-shot state's (Spark widens sum-of-decimal precision;
    * unchecked, each fold generation would widen the type again).
    */
  def aggState(events: DataFrame,
      keys: Seq[String] = Seq("user_id", "event_type"),
      valueCol: String = "value"): DataFrame =
    events.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_events"),
      sum(col(valueCol).cast(DecimalType(18, 2)))
        .cast(DecimalType(28, 2)).as("sum_value"),
      min(col(valueCol)).as("min_value"),
      max(col(valueCol)).as("max_value"))

  /** Fold a raw event batch into an existing [[aggState]] table: aggregate
    * the batch alone (map-side combined, batch-sized), then combine
    * states per key — count and sum add, min/min and max/max fold. One
    * shuffle on the key for the batch agg + one on the (key-partitioned,
    * usually much smaller) state union; history is never rescanned. The
    * combine is associative AND commutative, so batch arrival order
    * cannot change the state (spec-pinned) — the property that makes
    * late/replayed days safe to fold in any order.
    */
  def aggUpsert(state: DataFrame, batch: DataFrame,
      keys: Seq[String] = Seq("user_id", "event_type"),
      valueCol: String = "value"): DataFrame =
    state.unionByName(aggState(batch, keys, valueCol))
      .groupBy(keys.map(col): _*).agg(
        // coalesce is a semantic no-op (every group has ≥1 state row) but
        // restores count()'s non-nullable type, keeping the folded schema
        // EQUAL to the one-shot schema, nullability included
        coalesce(sum(col("n_events")), lit(0L)).as("n_events"),
        sum(col("sum_value")).cast(DecimalType(28, 2)).as("sum_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))

  // ------------------------------------ generic N-column additive state
  /** [[aggState]] generalized over a DECLARED list of value columns, each
    * carrying the full additive-statistic set (sum, sum of squares, min,
    * max) plus the shared row count — the state a real rolling dashboard
    * wants: variance/stddev per metric, several metrics per key, all
    * under the same fold-≡-recompute discipline. Only ADDITIVE stats
    * persist; everything derived (avg, variance = E[x²] − E[x]², stddev)
    * is a read-time view ([[aggDerivedN]]), never stored — the same
    * non-additive-stat rule [[aggState]] documents. Sums and sums of
    * squares are DECIMAL (squares at scale 4 — the square of a 2-dp
    * value has 4 dp exactly), pinned to fixed precision so fold
    * generations can't widen the schema; sumsq integer headroom is 24
    * digits — values up to ~1e12 square safely.
    */
  def aggStateN(events: DataFrame, keys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "aggStateN needs at least one value column")
    val stats = valueCols.flatMap { c =>
      val d = col(c).cast(DecimalType(18, 2))
      Seq(
        sum(d).cast(DecimalType(28, 2)).as(s"sum_$c"),
        sum((d * d).cast(DecimalType(28, 4)))
          .cast(DecimalType(38, 4)).as(s"sumsq_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"))
    }
    events.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"), stats: _*)
  }

  /** [[aggUpsert]] for the N-column state: counts, sums and sums of
    * squares add (decimal — exact, so fold ≡ recompute bit-for-bit),
    * mins/maxes fold. Associative and commutative like the 1-column form
    * (spec-pinned), so late/replayed days fold in any order.
    */
  def aggUpsertN(state: DataFrame, batch: DataFrame, keys: Seq[String],
      valueCols: Seq[String]): DataFrame =
    combineStatesN(state.unionByName(aggStateN(batch, keys, valueCols)),
      keys, valueCols)

  /** The N-column state COMBINE: re-aggregate state rows by `keys` with
    * the additive fold (counts/sums/sumsqs add, mins/maxes fold) —
    * [[aggUpsertN]]'s merge step, also the windowed view's
    * collapse of the day dimension at read time.
    */
  private[etl] def combineStatesN(states: DataFrame, keys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val stats = valueCols.flatMap { c => Seq(
      sum(col(s"sum_$c")).cast(DecimalType(28, 2)).as(s"sum_$c"),
      sum(col(s"sumsq_$c")).cast(DecimalType(38, 4)).as(s"sumsq_$c"),
      min(col(s"min_$c")).as(s"min_$c"),
      max(col(s"max_$c")).as(s"max_$c"))
    }
    states.groupBy(keys.map(col): _*)
      .agg(coalesce(sum(col("n_events")), lit(0L)).as("n_events"), stats: _*)
  }

  /** Read-time derived views over an [[aggStateN]] table: avg, population
    * variance (E[x²] − E[x]², clamped at 0 against float cancellation)
    * and stddev per declared column — computed from the stored additive
    * stats at query time, in DOUBLE (the state's decimals cast once).
    * Derived stats live HERE and not in the state by the additivity rule.
    */
  def aggDerivedN(state: DataFrame, valueCols: Seq[String]): DataFrame =
    valueCols.foldLeft(state) { (df, c) =>
      val n = col("n_events").cast(DoubleType)
      val mean = col(s"sum_$c").cast(DoubleType) / n
      df.withColumn(s"avg_$c", mean)
        .withColumn(s"var_$c", greatest(
          col(s"sumsq_$c").cast(DoubleType) / n - mean * mean, lit(0d)))
        .withColumn(s"stddev_$c", sqrt(col(s"var_$c")))
    }

  // ------------------------------------- windowed (expiring) states
  /** Drop state rows at or below (max day − retainDays) from an ALREADY
    * MATERIALIZED state (a parquet read, a checkpointed fold output) —
    * the read-time form of [[StateKind.Windowed]]'s expiry: the horizon
    * agg and the filter each rescan the state, which is fine exactly
    * because a materialized state is key-count-sized blocks, not a
    * pending computation.
    */
  private[etl] def expireDays(state: DataFrame, dayCol: String,
      retainDays: Int): DataFrame = {
    val mx = state.agg(max(col(dayCol))).head()
    if (mx.isNullAt(0)) state
    else state.filter(col(dayCol) > lit(mx.getLong(0) - retainDays))
  }

  /** [[expireDays]] for a FOLD result whose plan is still pending (the
    * batch aggregation + state merge): materialize the merged state ONCE
    * via localCheckpoint, then derive the horizon and the expiry filter
    * from the blocks. Without this, the horizon's eager `agg.head()`
    * executes the pending merge a first time and the returned filter a
    * second — and an in-memory fold CHAIN re-executes the whole
    * accumulated DAG per fold (O(n²) work) — breaking the documented
    * "one batch-sized shuffle + a state-sized merge" cost contract. The
    * checkpoint is key×day-sized (bounded by retention), so it is also
    * the natural lineage seam that keeps cascaded folds O(n), the same
    * discipline as the incremental-components fold.
    */
  private[graft] def expireFold(merged: DataFrame, dayCol: String,
      retainDays: Int): DataFrame =
    expireDays(graft.ops.Materialize(merged), dayCol, retainDays)

  /** The gate entries' day bucket: floor epoch-days of the event time. */
  private def withDay(events: DataFrame): DataFrame =
    events.withColumn("day",
      floor(tsSec(col("ts")) / lit(86400L)).cast(LongType))

  /** The gate entries' four interleaved batches: `c` mod 4. */
  private def mod4(df: DataFrame, c: String): Seq[DataFrame] =
    (0L to 3L).map(i => df.filter(col(c) % 4 === i))

  /** Fold batches in order: the first builds, the rest fold in. */
  private def foldAll(kind: StateKind, batches: Seq[DataFrame]): DataFrame =
    batches.tail.foldLeft(kind.state(batches.head))(kind.fold)

  /** Gate form: per-event-type rolling 7-day value summary served from a
    * 14-day-retention state folded in four event_id-mod slices (the
    * slices interleave days, so expiry and late-data paths both
    * exercise). ORACLE-EXACT: the additive stats by the decimal
    * argument; the window bounds are integer day arithmetic identical
    * in both engines; decimals cast to DOUBLE at the boundary.
    */
  def rollingAggregate(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.Windowed(
      StateKind.AggN(Seq("event_type"), Seq("value")), retainDays = 14)
    sumsAsDouble(kind.view(
      foldAll(kind, mod4(withDay(Tables(s, dir).events), "event_id")),
      lastNDays = 7))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------- incremental EWMA (ordered fold)
  /** Per-key EWMA state — the ORDER-SENSITIVE counterpoint to
    * [[aggState]]: an EWMA is NOT additive (no combine of two independent
    * summaries exists — the very bug the additive family's doc warns
    * against storing), but it IS sequentially foldable: s_t = α·x_t +
    * (1−α)·s_{t−1} needs only the previous state, so a rolling smoothing
    * stays maintainable batch-by-batch under ONE extra contract the
    * additive family doesn't need — batches must arrive in `orderCol`
    * order (enforced: an out-of-order fold raises at evaluation instead
    * of silently mis-smoothing). State = (keys..., last_<orderCol>,
    * ewma). Fold ≡ full-sequence recompute BIT-exactly: both replay the
    * identical FP recurrence (α an exact binary fraction; the
    * [[graft.functions.EwmaFold]] argument), which is what makes the
    * gate entry oracle-checkable.
    *
    * Scale shape: one map-side-combinable groupBy per batch (per-key
    * history within a batch is bounded — the q_ewma bounded-group
    * caveat applies per BATCH, not per history) + one key-partitioned
    * merge with the state; history is never rescanned.
    */
  def ewmaState(events: DataFrame, keys: Seq[String] = Seq("user_id"),
      orderCol: String = "event_id", valueCol: String = "value",
      alpha: Double = 0.5): DataFrame =
    events.groupBy(keys.map(col): _*).agg(
      max(col(orderCol)).as(s"last_$orderCol"),
      element_at(graft.functions.ewma_fold(
        array_sort(collect_list(struct(col(orderCol), col(valueCol))))
          .getField(valueCol), alpha), -1).as("ewma"))

  /** Fold a raw event batch into an existing [[ewmaState]]: the batch
    * packs to per-key in-order value lists, keys new to the state seed
    * from their first value (the recurrence's init), keys with carried
    * state continue the recurrence FROM the carried smoothing — the
    * same α·x + (1−α)·prev op sequence the one-shot fold performs, so
    * folding N ordered batches is bit-identical to one fold over the
    * concatenated history (spec-pinned). A batch row at or below a
    * key's `last_<orderCol>` violates the order contract and raises.
    */
  def ewmaUpsert(state: DataFrame, batch: DataFrame,
      keys: Seq[String] = Seq("user_id"),
      orderCol: String = "event_id", valueCol: String = "value",
      alpha: Double = 0.5): DataFrame = {
    val lastCol = s"last_$orderCol"
    val packed = batch.groupBy(keys.map(col): _*).agg(
      min(col(orderCol)).as("_first"),
      max(col(orderCol)).as("_batch_last"),
      array_sort(collect_list(struct(col(orderCol), col(valueCol))))
        .getField(valueCol).as("_vs"))
    state.withColumnRenamed(lastCol, "_state_last")
      .join(packed, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        coalesce(col("_batch_last"), col("_state_last")).as(lastCol),
        when(col("_vs").isNull, col("ewma")) // key untouched by the batch
          .when(col("ewma").isNull,          // key new to the state
            element_at(graft.functions.ewma_fold(col("_vs"), alpha), -1))
          .when(col("_first") <= col("_state_last"), raise_error(concat(
            lit(s"ewmaUpsert: out-of-order batch — $orderCol "),
            col("_first"),
            lit(s" at or below the state's $lastCol "),
            col("_state_last"),
            lit(" (fold ordered batches only; replays are the durable " +
              "form's watermark job)"))))
          .otherwise(aggregate(col("_vs"), col("ewma"),
            (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc))
          .as("ewma")): _*)
  }

  /** Gate form: events fold in as four CONTIGUOUS event_id ranges (the
    * ordered "daily loads" the contract requires — the additive gate's
    * mod-4 slices would be out-of-order here by construction); the final
    * per-user smoothing must equal the oracle's one-shot fold over the
    * whole ordered history. ORACLE-EXACT by the shared-recurrence
    * argument.
    */
  def incrementalEwma(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).events
    val mx = e.agg(max(col("event_id"))).head.getLong(0)
    val cuts = (1 to 3).map(i => mx * i.toLong / 4L)
    val slices = Seq(
      e.filter(col("event_id") <= cuts(0)),
      e.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      e.filter(col("event_id") > cuts(1) && col("event_id") <= cuts(2)),
      e.filter(col("event_id") > cuts(2)))
    foldAll(StateKind.Ewma(), slices).orderBy(col("user_id"))
  }

  // ------------------------------------------ durable incremental state
  /** The stamped fold parameters of a durable state — `_state_meta`, a
    * sorted `key=value` file inside the state dir. Empty when the state
    * predates the protocol or doesn't exist. The protocol exists because
    * a durable state is only as good as the parameters every fold agrees
    * on: a fold that passes lgK=10 into a lgK=12 theta state, or α=0.3
    * into an α=0.5 EWMA, produces NO error — just silently degraded
    * estimates no later read can detect. So [[foldAt]] stamps
    * [[StateKind.stamp]] (kind + every estimate-shaping parameter) on the
    * first fold and REQUIRES a match on every later fold; read-time views
    * that need a geometry parameter ([[audienceOverlapAt]]) read it from
    * the stamp instead of trusting a caller. The same failure class the
    * embedding index's `_geometry` file closed, applied to the
    * durable-state family.
    */
  def stateMeta(s: SparkSession, path: String): Map[String, String] =
    graft.Inputs.readKeyValues(s, s"$path/_state_meta")

  /** The state table's own fold watermark: the highest batch id already
    * folded in (`_fold_watermark` inside the state dir). −1 when the
    * state doesn't exist yet.
    */
  def aggFoldWatermark(s: SparkSession, path: String): Long =
    graft.Inputs.readStamp(s, s"$path/_fold_watermark").fold(-1L)(_.trim.toLong)

  /** Durable, replay-safe fold of `batch` into the `kind` state at `path`
    * — the one fence every kind shares, and the discipline the fold needs
    * that the ingest sinks don't: their index rows are content-derived (a
    * replayed append duplicates rows that compaction dedups), but a state
    * fold is NOT idempotent — folding the same batch twice DOUBLE-COUNTS,
    * and no later pass can tell the inflation from real data. So the
    * state carries its own fold watermark, and state + new watermark +
    * [[stateMeta]] stamp swap atomically in one
    * [[graft.ops.Layout.writeStaged]] (the watermark is a `_` file inside
    * the state dir — there is no window where one is visible without the
    * other). Replays of already-folded ids (`batchId` ≤ watermark) are
    * no-ops and build no plan; a crash between the swap's two renames
    * parks the old generation at `<path>.old`, which the next call
    * restores before folding — the state is never lost and never a mixed
    * generation. An existing stamp must match `kind.stamp` exactly, or
    * the fold raises before any plan is built; a pre-meta state adopts
    * this fold's stamp.
    *
    * THE FENCE ASSUMES ONE MONOTONE ID LINEAGE (a streaming
    * checkpoint's batch ids, or a scheduler's increasing day ids): an
    * id at or below the watermark is indistinguishable from a replay
    * and is SKIPPED. Two operations therefore need care — (1) resetting
    * a streaming checkpoint restarts ids at 0, so new batches would
    * silently read as replays: point the restarted stream at a FRESH
    * state path (or delete the old state with it) — the same rule
    * [[graft.ops.Similarity.saveIndex]]'s clean-slate note states for
    * the marker protocol; (2) out-of-order backfill must not reuse a
    * lower id — fold the late data under a fresh id above the
    * watermark (ids are opaque; only their order matters). The
    * frame-level [[StateKind.fold]] has no fence and composes in any
    * order the kind's algebra allows.
    */
  def foldAt(s: SparkSession, path: String, batch: DataFrame,
      batchId: Long, kind: StateKind): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    // crash-between-renames recovery: the previous generation is parked
    // and the live path is missing — restore it before reading anything
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"durableFold: restore $old -> $path failed")
    if (batchId <= aggFoldWatermark(s, path)) return // replayed, already in
    val fresh = !fs.exists(p)
    val meta = kind.stamp
    if (!fresh) {
      val stamped = stateMeta(s, path)
      if (stamped.nonEmpty) {
        val declared = meta.toMap
        val diffs = (stamped.keySet ++ declared.keySet).toSeq.sorted
          .filter(k => stamped.get(k) != declared.get(k))
        require(diffs.isEmpty,
          s"durableFold: state at $path was built with different " +
            "parameters — " + diffs.map(k =>
              s"$k: stamped=${stamped.getOrElse(k, "<absent>")} " +
                s"declared=${declared.getOrElse(k, "<absent>")}")
              .mkString("; ") +
            " (a mismatched fold parameter silently degrades the state; " +
            "fold with the stamped parameters or rebuild at a fresh path)")
      }
    }
    graft.ops.Layout.writeStaged(s, path) { staging =>
      val folded =
        if (fresh) kind.state(batch)
        else kind.fold(s.read.parquet(path), batch)
      folded.write.parquet(staging)
      graft.Inputs.writeStamp(s, s"$staging/_fold_watermark", batchId.toString)
      graft.Inputs.writeKeyValues(s, s"$staging/_state_meta", meta)
    }
  }

  /** [[foldAt]] for the N-column additive state. */
  def aggUpsertAtN(s: SparkSession, path: String, batch: DataFrame,
      batchId: Long, keys: Seq[String], valueCols: Seq[String]): Unit =
    foldAt(s, path, batch, batchId, StateKind.AggN(keys, valueCols))

  /** [[foldAt]] for the KLL quantile state. */
  def quantileUpsertAt(s: SparkSession, path: String, batch: DataFrame,
      batchId: Long, key: String = "event_type",
      valueCol: String = "value", k: Int = 200): Unit =
    foldAt(s, path, batch, batchId, StateKind.Quantile(key, valueCol, k))

  /** Gate form: the events table folds in as four sequential batches
    * (event_id mod 4 — stand-ins for four daily loads) and the folded
    * state must equal the one-shot aggregate over everything, which is
    * exactly what the oracle recomputes. ORACLE-EXACT by the decimal
    * argument above. The STATE stays DECIMAL(28,2) — that exactness is
    * the operator's point — but the gate projection casts `sum_value`
    * to DOUBLE per the repo-wide §5 output convention (the fold is
    * already bit-exact in decimal, so one cast at the boundary loses
    * nothing and keeps the comparison representation-independent).
    */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame =
    foldAll(StateKind.Agg(), mod4(Tables(s, dir).events, "event_id"))
      .withColumn("sum_value", col("sum_value").cast("double"))
      .orderBy(col("user_id"), col("event_type"))

  /** Gate form of the GENERIC state: two metrics (quantity, extended
    * price) per (returnflag, linestatus), folded in four l_orderkey-mod
    * slices, served through the [[aggDerivedN]] views — the folded state
    * plus sumsq-derived avg/variance/stddev must equal the oracle's
    * one-shot recomputation. ORACLE-EXACT: the additive stats by the
    * decimal argument, the derived views because both engines evaluate
    * the identical double expression tree over identical inputs.
    * Decimals cast to DOUBLE at the boundary per the §5 convention.
    */
  def incrementalAggStats(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.AggN(Seq("l_returnflag", "l_linestatus"),
      Seq("l_quantity", "l_extendedprice"))
    sumsAsDouble(kind.view(
      foldAll(kind, mod4(Tables(s, dir).lineitem, "l_orderkey"))))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** The gate projection of additive stats: decimal sums and sums of
    * squares cast to DOUBLE at the boundary (§5 output convention).
    */
  private def sumsAsDouble(out: DataFrame): DataFrame =
    out.select(out.columns.toSeq.map { c =>
      if (c.startsWith("sum_") || c.startsWith("sumsq_"))
        col(c).cast("double").as(c)
      else col(c)
    }: _*)

  // --------------------------------------------- incremental join view
  /** A materialized inner equi-join maintained incrementally — the state
    * for the third member of the incremental family: [[aggState]] folds
    * additive aggregates, [[ewmaState]] folds an ordered recurrence, and
    * this folds a JOIN. `view` is the materialized L ⋈ R; `left`/`right`
    * are the accumulated inputs the NEXT delta must join against (a
    * delta-join needs the other side's history — the one state a plain
    * "just reprocess the batch" pipeline cannot carry).
    */
  final case class JoinView(view: DataFrame, left: DataFrame, right: DataFrame)

  /** Initialize a [[JoinView]] from the first load of both sides. */
  def joinViewInit(left: DataFrame, right: DataFrame,
      keys: Seq[String]): JoinView =
    JoinView(left.join(right, keys), left, right)

  /** Fold one batch of APPEND-ONLY rows per side into a [[JoinView]] —
    * the classic delta-join identity: for bag semantics and inner joins,
    *   (L ∪ ΔL) ⋈ (R ∪ ΔR) = L⋈R ∪ ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR,
    * so the new view rows are exactly the three delta terms and history
    * L⋈R is NEVER recomputed — fold ≡ recompute holds as bag equality by
    * ⋈ distributing over ∪ (spec-pinned both interleaved and fact-only).
    * Append-only is the contract (updates/deletes are [[mergeUpsert]]'s
    * job; a retracted row would need the view to subtract, which inner
    * join + union cannot express).
    *
    * Scale shape: deltas are batch-sized by contract, so both cross
    * terms broadcast the delta side (`broadcastDeltas`, default on) —
    * the HISTORY side is scanned but never shuffled, and at 100 TB the
    * nightly fold costs one broadcast-join scan per side instead of a
    * full L ⋈ R shuffle (the entire point of maintaining the view). The
    * ΔL⋈ΔR term is delta × delta — negligible. A dimension-style static
    * side folds `emptyDelta` and skips its history scan entirely: the
    * common fact-stream-joins-dim fold reads history ZERO times.
    */
  def joinViewUpsert(st: JoinView, dLeft: DataFrame, dRight: DataFrame,
      keys: Seq[String], broadcastDeltas: Boolean = true): JoinView = {
    def bc(d: DataFrame) = if (broadcastDeltas) broadcast(d) else d
    val delta = bc(dLeft).join(st.right, keys)
      .unionByName(st.left.join(bc(dRight), keys))
      .unionByName(dLeft.join(bc(dRight), keys))
    JoinView(st.view.unionByName(delta),
      st.left.unionByName(dLeft), st.right.unionByName(dRight))
  }

  /** The join state's durable protocol marker — `_join_protocol` at the
    * root, `two_sided` ([[joinUpsertAt]]: every committed batch writes all
    * three dirs) or `left_only` ([[joinUpsertLeftAt]]: right is seeded
    * once, never batch-written). Fsck needs this to be a FILE, not an
    * inference from surviving right-side batch files: under inference,
    * total loss of the right side — the most damaging torn state — looks
    * exactly like a seeded-dim protocol and batch parity passes
    * vacuously. Written just before the first successful fold's commit
    * (after the replay fence and the fold's preconditions, so a replayed
    * no-op or failed attempt never brands the state); a later fold under
    * the OTHER protocol raises (mixing them makes batch parity undefined).
    */
  private def joinProtocolPath(root: String) = s"$root/_join_protocol"

  /** The stamped protocol, None for a pre-protocol state. */
  def joinProtocol(s: SparkSession, root: String): Option[String] =
    graft.Inputs.readStamp(s, joinProtocolPath(root)).map(_.trim)

  private def stampJoinProtocol(s: SparkSession, root: String,
      protocol: String): Unit = joinProtocol(s, root) match {
    case Some(existing) =>
      require(existing == protocol,
        s"join state at $root was built under the '$existing' protocol " +
          s"but this fold declares '$protocol' — mixing joinUpsertAt and " +
          "joinUpsertLeftAt on one state makes batch parity undefined; " +
          "use the original entry point or rebuild at a fresh path")
    case None => graft.Inputs.writeStamp(s, joinProtocolPath(root), protocol)
  }

  /** Durable, replay-safe [[joinViewUpsert]] over `root/{view,left,right}`.
    *
    * The state is append-only on ALL THREE tables (the delta-join adds
    * rows, never rewrites them), so durability uses the streaming sinks'
    * exactly-once protocol ([[graft.streaming.Streams.commitBatch]]: per
    * dir, staged write → batch-prefixed file REPLACE → one marker for the
    * whole multi-dir commit) instead of [[foldAt]]'s whole-state
    * swap — folding a batch writes THE BATCH'S rows, not the history, so
    * a year-old 100 TB view costs the same per night as a day-old one.
    * Replayed ids are no-ops (marker check); a crash mid-write leaves
    * un-markered files that the replay REPLACES by batch prefix. The
    * marker lives at `root` — one lineage for the three dirs, same
    * monotone-id contract as [[foldAt]].
    */
  def joinUpsertAt(s: SparkSession, root: String, dLeft: DataFrame,
      dRight: DataFrame, batchId: Long, keys: Seq[String],
      broadcastDeltas: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    // replay fence FIRST: a replayed id through the wrong entry point
    // must stay the harmless no-op it always was — stamping before the
    // fence let one such call (or a fold that failed analysis) brand a
    // virgin state's protocol permanently, making every later CORRECT
    // fold raise until the marker was hand-deleted. The stamp moves to
    // just before the commit, once the delta terms have analyzed.
    if (graft.streaming.Streams.isBatchCommitted(s, root, batchId)) return
    // history = committed batches ONLY: a crashed attempt at THIS id may
    // have left its own `b<id>-*` files in the dirs, and reading them as
    // history would double-count the ΔL⋈ΔR rows through the history terms
    // on the retry — exclude the current batch's prefix explicitly
    def existing(sub: String): Option[DataFrame] = {
      val d = new Path(s"$root/$sub")
      if (!fs.exists(d)) None
      else {
        val files = fs.listStatus(d).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") &&
            !p.getName.startsWith(s"b$batchId-"))
        if (files.isEmpty) None
        else Some(s.read.parquet(files.map(_.toString).toIndexedSeq: _*))
      }
    }
    def bc(d: DataFrame) = if (broadcastDeltas) broadcast(d) else d
    // compute the three delta terms against the PERSISTED history (absent
    // history = first load: the lone ΔL⋈ΔR term is exactly joinViewInit)
    val deltaView = (existing("right").map(r => bc(dLeft).join(r, keys)) ++
        existing("left").map(l => l.join(bc(dRight), keys)) ++
        Seq(dLeft.join(bc(dRight), keys)))
      .reduce(_ unionByName _)
    // preconditions held (history listed, every delta term analyzed):
    // stamp, then commit — a mismatched stamp still raises before any
    // file is written
    stampJoinProtocol(s, root, "two_sided")
    graft.streaming.Streams.commitBatch(s, root, batchId)(
      s"$root/view"  -> { st => deltaView.write.parquet(st) },
      s"$root/left"  -> { st => dLeft.write.parquet(st) },
      s"$root/right" -> { st => dRight.write.parquet(st) })
  }

  /** [[joinUpsertAt]] specialized to a LEFT-only delta against a static
    * right side (the [[graft.streaming.Streams.joinIngestSink]] shape:
    * facts stream, dim frozen at seed time): only the ΔL⋈R term exists,
    * and only `view` and `left` are written — no empty right-delta file
    * per batch (a day of one-minute batches would otherwise grow
    * `root/right` by ~1400 schema-only files that every later fold
    * re-lists), and no per-batch footer read to conjure an empty frame
    * of the right schema.
    */
  def joinUpsertLeftAt(s: SparkSession, root: String, dLeft: DataFrame,
      batchId: Long, keys: Seq[String],
      broadcastDeltas: Boolean = true): Unit = {
    // same ordering as joinUpsertAt: replay fence → preconditions (the
    // seeded right side must exist and the delta join must analyze) →
    // stamp → commit, so a failed or replayed call can never brand the
    // state's protocol
    if (graft.streaming.Streams.isBatchCommitted(s, root, batchId)) return
    val right = s.read.parquet(s"$root/right")
    val deltaView =
      (if (broadcastDeltas) broadcast(dLeft) else dLeft).join(right, keys)
    stampJoinProtocol(s, root, "left_only")
    graft.streaming.Streams.commitBatch(s, root, batchId)(
      s"$root/view" -> { st => deltaView.write.parquet(st) },
      s"$root/left" -> { st => dLeft.write.parquet(st) })
  }

  /** Gate form: orders ⋈ customer maintained incrementally — customer
    * loads in two halves (custkey mod 2), orders in four interleaved
    * slices (orderkey mod 4), so every delta term (ΔL⋈R, L⋈ΔR, ΔL⋈ΔR)
    * carries rows. The folded view must equal the one-shot inner join,
    * which is what the oracle recomputes. ORACLE-EXACT: the fold moves
    * rows, never values — bag equality by the distributivity argument.
    */
  def incrementalJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val o = t.orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast(DoubleType).as("o_totalprice"))
      .withColumnRenamed("o_custkey", "c_custkey")
    val c = t.customer.select(col("c_custkey"), col("c_name"),
      col("c_acctbal").cast(DoubleType).as("c_acctbal"))
    val oSlices = (0L to 3L).map(i => o.filter(col("o_orderkey") % 4 === i))
    val cSlices = (0L to 1L).map(i => c.filter(col("c_custkey") % 2 === i))
    val emptyC = c.limit(0)
    val st0 = joinViewInit(oSlices(0), cSlices(0), Seq("c_custkey"))
    val st = Seq((oSlices(1), cSlices(1)), (oSlices(2), emptyC),
        (oSlices(3), emptyC))
      .foldLeft(st0) { case (acc, (dl, dr)) =>
        joinViewUpsert(acc, dl, dr, Seq("c_custkey"))
      }
    st.view.orderBy(col("o_orderkey"))
  }

  // ---------------------------------------- incremental distinct sketch
  /** Per-key DISTINCT-COUNT state — the fourth incremental algebra:
    * count-distinct is not additive (overlapping batches double-count)
    * and not sequentially foldable from a scalar, but it IS mergeable as
    * a SKETCH: Spark 4 ships the DataSketches HLL aggregate
    * (`hll_sketch_agg` / `hll_union_agg`), whose union is the exact
    * set-union in sketch space — fold(state, batch) =
    * sketch(history ∪ batch) with NO rescan and no per-key exact set.
    * State = (keys..., sketch BINARY); the estimate is a READ-TIME view
    * ([[distinctEstimate]]) per the same never-store-derived rule as
    * [[aggDerivedN]]. lgK = 12 → ~2% standard error at a few KB per key,
    * the classic dashboard trade.
    */
  def distinctState(events: DataFrame, keys: Seq[String] = Seq("event_type"),
      valueCol: String = "user_id", lgK: Int = 12): DataFrame =
    events.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Fold a raw batch into a [[distinctState]]: sketch the batch alone
    * (map-side combined), then union sketches per key — one batch-sized
    * shuffle + one key-partitioned state merge, history never rescanned.
    * Sketch union is associative and commutative (it represents set
    * union), so batches fold in any order and duplicate ROWS are absorbed
    * by construction.
    */
  def distinctUpsert(state: DataFrame, batch: DataFrame,
      keys: Seq[String] = Seq("event_type"), valueCol: String = "user_id",
      lgK: Int = 12): DataFrame =
    unionHll(state.unionByName(distinctState(batch, keys, valueCol, lgK)),
      keys)

  /** HLL sketch rows unioned per key — the fold's merge, and the windowed
    * view's day collapse.
    */
  private[etl] def unionHll(frames: DataFrame, keys: Seq[String]): DataFrame =
    frames.groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))

  /** Read-time estimate view over a [[distinctState]]. */
  def distinctEstimate(state: DataFrame): DataFrame =
    state.withColumn("distinct_est", hll_sketch_estimate(col("sketch")))
      .drop("sketch")

  /** Gate form: distinct users per event_type, folded in four event_id-mod
    * slices, served through the estimate view. ORACLE-EXACT at the gate
    * SF: below ~512 uniques a lgK=12 DataSketches HLL stays in its
    * coupon (list/set) mode, where it stores every distinct hash and
    * the estimate IS the exact count — 150 users/type at the gate, so
    * the view equals DuckDB's COUNT(DISTINCT). At production
    * cardinalities the sketch promotes to HLL mode and degrades to the
    * ~2% estimates the spec envelope pins (the same
    * exact-regime-at-the-gate / bounded-regime-in-the-spec split as
    * the theta and Misra–Gries gates).
    */
  def incrementalDistinct(s: SparkSession, dir: String): DataFrame =
    distinctEstimate(foldAll(StateKind.Distinct(),
      mod4(Tables(s, dir).events, "event_id")))
      .orderBy(col("event_type"))

  /** Gate form: trailing-7-day distinct users per event type served from
    * a 14-day-retention windowed state folded in four event_id-mod
    * slices (interleaved days — expiry and in-horizon late data both
    * exercise). ORACLE-EXACT at the gate SF by the coupon-regime
    * argument ([[incrementalDistinct]]): every (type, day) sketch and
    * their 7-day union stay below promotion, so the estimate equals
    * DuckDB's windowed COUNT(DISTINCT).
    */
  def incrementalDistinctWindowed(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.Windowed(StateKind.Distinct(), retainDays = 14)
    kind.view(foldAll(kind, mod4(withDay(Tables(s, dir).events), "event_id")))
      .orderBy(col("event_type"))
  }

  /** Gate form: the trailing-7-day audience-overlap matrix from a
    * 14-day-retention windowed state folded in four event_id-mod
    * slices. ORACLE-EXACT at the gate SF by [[audienceOverlapQ]]'s
    * below-capacity argument, applied per (type, day) sketch and their
    * day unions.
    */
  def audienceOverlapWindowed(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.Windowed(StateKind.Audience(), retainDays = 14)
    kind.view(foldAll(kind, mod4(withDay(Tables(s, dir).events), "event_id")))
      .orderBy(col("a"), col("b"))
  }

  // ---------------------------------------- incremental quantile sketch
  /** Per-key QUANTILE state — the fifth incremental algebra: quantiles
    * are not additive, not order-foldable, and (unlike distinct-count)
    * not exactly mergeable — but the KLL sketch merges with a BOUNDED
    * rank-error guarantee, which is the strongest maintainable form a
    * rolling "p99 latency per segment" dashboard can have without
    * keeping every value. State = (key STRING, sketch BINARY, n_rows),
    * the same artifact [[graft.ops.Profile.valueSketches]] saves — one
    * sketch format repo-wide, ordered by key like it; n_rows is the
    * sketch's exact item count. Quantile estimates are a read-time view
    * ([[quantileEstimates]]), never stored, per the aggState
    * non-additive rule.
    */
  def quantileState(events: DataFrame, key: String = "event_type",
      valueCol: String = "value", k: Int = 200): DataFrame =
    quantileStateBy(events, key, Nil, valueCol, k)

  /** Every sketch state stores its key as a string. */
  private def stringKey(df: DataFrame, key: String): DataFrame =
    df.withColumn(key, col(key).cast("string"))

  /** [[quantileState]] grouped on `key` and then `days` (a windowed
    * form's day column, kept as it is).
    */
  private[etl] def quantileStateBy(events: DataFrame, key: String,
      days: Seq[String], valueCol: String, k: Int): DataFrame = {
    val by = key +: days
    mergeSketchFrames(sketchPartials(stringKey(events, key), by,
        col(valueCol).cast("double"), SketchMerges.kll(k)),
      by, SketchMerges.kll(k))
      .orderBy(by.map(col): _*)
  }

  /** Fold a raw batch into a [[quantileState]]: sketch the batch alone
    * (one mapPartitions scan + one few-KB-per-key partial shuffle), then
    * merge sketches per key — history never rescanned. KLL merge is
    * associative/commutative UP TO its randomized-compaction error
    * bound: unlike the additive/join/distinct folds there is no
    * bit-equality to pin, so the spec pins the rank-error envelope vs
    * exact order statistics instead (the [[graft.ops.Profile]]
    * discipline), and the gate entry is declared rows-only.
    */
  def quantileUpsert(state: DataFrame, batch: DataFrame,
      key: String = "event_type", valueCol: String = "value",
      k: Int = 200): DataFrame =
    quantileUpsertBy(state, batch, key, Nil, valueCol, k)

  /** [[quantileUpsert]] grouped on `key` and then `days`. */
  private[etl] def quantileUpsertBy(state: DataFrame, batch: DataFrame,
      key: String, days: Seq[String], valueCol: String, k: Int): DataFrame =
    mergeSketchFrames(
      state.unionByName(quantileStateBy(batch, key, days, valueCol, k)),
      key +: days, SketchMerges.kll(k))

  /** Read-time quantile view over a [[quantileState]] — estimates for the
    * requested ranks per key, computed from sketch bytes distributed
    * (never a driver fold, so high-cardinality keys are safe).
    */
  def quantileEstimates(state: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val s2 = state.sparkSession
    import s2.implicits._
    val key = state.columns.head
    state.select(col(key).cast("string").as("g"), col("sketch"), col("n_rows"))
      .as[(String, Array[Byte], Long)]
      .map { case (g, bytes, n) =>
        val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
        (g, n, qs.map(q => sk.getQuantile(q)))
      }
      .toDF(key, "n_rows", "quantiles")
      .select(col(key) +: col("n_rows") +:
        qs.zipWithIndex.map { case (q, i) =>
          col("quantiles").getItem(i).as(s"p${(q * 100).round}") }: _*)
  }

  /** Gate form: per-event-type value quantiles, folded in four event_id-mod
    * slices, served through the estimate view. Rows-only (KLL compaction
    * is randomized); the spec pins the folded estimates inside the
    * sketch's rank-error envelope vs exact order statistics and the
    * durable replay discipline.
    */
  def incrementalQuantiles(s: SparkSession, dir: String): DataFrame =
    quantileEstimates(foldAll(StateKind.Quantile(),
      mod4(Tables(s, dir).events, "event_id")))
      .orderBy(col("event_type"))

  /** Gate form: trailing-7-day per-event-type quantiles from a
    * 14-day-retention windowed state folded in four event_id-mod
    * slices. Rows-only (randomized KLL compaction); the spec pins exact
    * n_rows vs the windowed recompute and the estimates inside the
    * rank-error envelope of the window's exact order statistics.
    */
  def incrementalQuantilesWindowed(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.Windowed(StateKind.Quantile(), retainDays = 14)
    kind.view(foldAll(kind, mod4(withDay(Tables(s, dir).events), "event_id")))
      .orderBy(col("event_type"))
  }

  /** The one shuffle every byte-sketch algebra's fold pays: union
    * (keys..., sketch) rows by key with the family's byte-level merge.
    * The exchange carries few-KB partials, never raw rows; the merge runs
    * distributed, one group per key, and emits the codec's columns (the
    * sketch, plus n_rows for KLL). Shared by the Theta, KLL and
    * Misra–Gries folds and their windowed views (the HLL fold merges
    * through Spark's native `hll_union_agg`). Key columns keep their
    * types.
    */
  private[graft] def mergeSketchFrames(frames: DataFrame, keys: Seq[String],
      codec: SketchCodec[_]): DataFrame = {
    val in = frames.select(keys.map(col) :+ col("sketch"): _*)
    val n = keys.size
    val keySchema = StructType(
      in.schema.fields.take(n).map(_.copy(nullable = true)))
    in.groupByKey((r: Row) => Row.fromSeq(r.toSeq.take(n)))(
        Encoders.row(keySchema))
      .mapGroups((g: Row, rows: Iterator[Row]) => Row.fromSeq(
        g.toSeq ++ codec.merge(rows.map(_.getAs[Array[Byte]](n)))))(
        Encoders.row(StructType(keySchema.fields ++ codec.fields)))
  }

  // --------------------------------------- incremental set-sketch (Theta)
  /** The per-partition sketch maps' spill guard: when a partition sees
    * more DISTINCT keys than this, the map is flushed (its partials
    * emitted, the map cleared) before the next key is admitted — so task
    * memory is bounded by flush-threshold × max-sketch-bytes (~128 MB at
    * the theta worst case) no matter the key cardinality, instead of
    * distinct-keys-in-partition × sketch bytes with no bound. Multiple
    * partials per (partition, key) are BY DESIGN absorbed by the merge
    * shuffle every consumer already pays ([[mergeSketchFrames]] — sketch
    * merge is associative/commutative), so the guard costs nothing when
    * it never fires and degrades gracefully (slightly more exchange rows)
    * when it does.
    */
  private[graft] val SketchPartialFlushKeys = 4096

  /** Per-partition sketch partials of a raw frame — unmerged (keys...,
    * sketch) rows from one mapPartitions scan, possibly several per key
    * when the [[SketchPartialFlushKeys]] spill guard fires. Rows with a
    * NULL key or value are dropped. Both the state build and the fold
    * merge these directly, so neither pays a second merge shuffle.
    */
  private[graft] def sketchPartials[S](events: DataFrame, keys: Seq[String],
      value: Column, codec: SketchCodec[S],
      flushKeys: Int = SketchPartialFlushKeys): DataFrame = {
    val in = events.select(keys.map(col) :+ value.as("_v"): _*)
    val n = keys.size
    val out = StructType(in.schema.fields.take(n).map(_.copy(nullable = true))
      :+ StructField("sketch", BinaryType))
    in.filter((keys :+ "_v").map(col(_).isNotNull).reduce(_ && _))
      .mapPartitions { (it: Iterator[Row]) =>
        val sk = scala.collection.mutable.Map[Row, S]()
        def drain(): Iterator[Row] = {
          val done = sk.iterator
            .map { case (g, s) => Row.fromSeq(g.toSeq :+ codec.bytes(s)) }
            .toVector
          sk.clear()
          done.iterator
        }
        it.flatMap { r =>
          val g = Row.fromSeq(r.toSeq.take(n))
          val flushed =
            if (sk.size >= flushKeys && !sk.contains(g)) drain()
            else Iterator.empty
          codec.update(sk.getOrElseUpdate(g, codec.empty()), r.get(n))
          flushed
        } ++ drain()
      }(Encoders.row(out))
  }

  /** Per-partition theta partials ([[sketchPartials]]). */
  private[graft] def audiencePartials(events: DataFrame, keys: Seq[String],
      valueCol: String, lgK: Int,
      flushKeys: Int = SketchPartialFlushKeys): DataFrame =
    sketchPartials(events, keys, col(valueCol).cast("string"),
      SketchMerges.theta(lgK), flushKeys)

  /** Per-key SET state — the sixth incremental algebra, and the one the
    * HLL family structurally cannot provide: DataSketches THETA sketches
    * support set INTERSECTION and DIFFERENCE, not just union, so the
    * classic audience questions ("users who did A and also B", "users
    * who viewed but never bought") answer from few-KB mergeable state
    * instead of a corpus-scale distinct-pair shuffle. State =
    * (key STRING, sketch BINARY); the fold is sketch union per key
    * (batch-sized scan + state-sized merge — [[distinctState]]'s shape);
    * the set algebra is a READ-TIME view ([[audienceOverlap]]), never
    * stored. Built by one mapPartitions scan (DataSketches theta has no
    * Spark SQL aggregate) with partials merged DISTRIBUTED.
    */
  def audienceState(events: DataFrame, key: String = "event_type",
      valueCol: String = "user_id", lgK: Int = 12): DataFrame =
    audienceUpsertBy(None, events, key, Nil, valueCol, lgK)

  /** Fold a raw batch into an [[audienceState]] — per-key sketch union
    * (set union: associative, commutative, duplicate-absorbing), same
    * shape as [[distinctUpsert]]. Merges the batch's raw PARTIALS with
    * the state in ONE shuffle (pre-merging the batch alone would pay
    * the per-key exchange twice per fold).
    */
  def audienceUpsert(state: DataFrame, batch: DataFrame,
      key: String = "event_type", valueCol: String = "user_id",
      lgK: Int = 12): DataFrame =
    audienceUpsertBy(Some(state), batch, key, Nil, valueCol, lgK)

  /** [[audienceUpsert]] (or, without a state, [[audienceState]]) grouped
    * on `key` and then `days` (a windowed form's day column, kept as it
    * is).
    */
  private[etl] def audienceUpsertBy(state: Option[DataFrame],
      batch: DataFrame, key: String, days: Seq[String], valueCol: String,
      lgK: Int): DataFrame = {
    val partials =
      audiencePartials(stringKey(batch, key), key +: days, valueCol, lgK)
    mergeSketchFrames(state.fold(partials)(_.unionByName(partials)),
      key +: days, SketchMerges.theta(lgK))
  }

  /** The read-time SET-ALGEBRA view over an [[audienceState]]: for every
    * UNORDERED key pair (one row per {A, B}, keyed a < b), estimated
    * |A|, |B|, |A ∪ B|, |A ∩ B|, |A \ B|, |B \ A| and the Jaccard
    * overlap — the audience-overlap matrix with BOTH difference
    * directions, so "viewed but never bought" answers from the one row
    * whichever way the pair sorts. `lgK` must match the state's build
    * geometry: the union operator downsamples to ITS OWN nominal (the
    * library default is 4096) regardless of how exact its inputs are,
    * so an unmatched default would silently put est_union in estimate
    * mode while the sizes stay exact — breaking est_union = |A| + |B|
    * − |A∩B| and the Jaccard's numerator/denominator consistency. The
    * state is key-count-sized (not corpus-sized), so the pair frame is
    * a tiny self-join computed distributed; every estimate reads sketch
    * bytes, never the corpus. The self-cross plans a
    * BroadcastNestedLoopJoin BY DESIGN (PlanSweepSpec whitelist): the
    * output IS every unordered pair, so no equi key exists — and both
    * sides are the k-row state, never data-proportional.
    */
  def audienceOverlap(state: DataFrame, lgK: Int = 12): DataFrame = {
    import org.apache.datasketches.theta.{Sketches, SetOperation}
    import org.apache.datasketches.memory.Memory
    val s2 = state.sparkSession
    import s2.implicits._
    val key = state.columns.head
    val pairs = state.select(col(key).cast("string").as("a"),
        col("sketch").as("ska"))
      .crossJoin(state.select(col(key).cast("string").as("b"),
        col("sketch").as("skb")))
      .filter(col("a") < col("b"))
    pairs.as[(String, Array[Byte], String, Array[Byte])]
      .map { case (a, ba, b, bb) =>
        val ska = Sketches.wrapSketch(Memory.wrap(ba))
        val skb = Sketches.wrapSketch(Memory.wrap(bb))
        val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
        u.union(ska); u.union(skb)
        val unionEst = u.getResult.getEstimate
        val inter = SetOperation.builder().buildIntersection()
        inter.intersect(ska); inter.intersect(skb)
        val interEst = inter.getResult.getEstimate
        val ab = SetOperation.builder().buildANotB()
        (a, b, ska.getEstimate, skb.getEstimate, unionEst, interEst,
          ab.aNotB(ska, skb).getEstimate, ab.aNotB(skb, ska).getEstimate,
          if (unionEst == 0d) 0d else interEst / unionEst)
      }
      .toDF("a", "b", "est_a", "est_b", "est_union", "est_intersection",
        "est_a_only", "est_b_only", "jaccard")
  }

  /** [[audienceOverlap]] over a DURABLE audience state: the union
    * geometry (lgK) comes from the state's own [[stateMeta]] stamp, not
    * a caller parameter — the one read-time view where a mistyped
    * geometry silently breaks estimate consistency (the union operator
    * downsamples to ITS nominal; see [[audienceOverlap]]'s lgK warning),
    * so the artifact answers for itself. Pre-meta states (no stamp) fall
    * back to the build default; a stamp of the wrong kind raises.
    */
  def audienceOverlapAt(s: SparkSession, path: String): DataFrame = {
    val meta = stateMeta(s, path)
    meta.get("kind").foreach(k => require(k == "audience",
      s"audienceOverlapAt: state at $path is stamped kind=$k, not an " +
        "audience (theta) state"))
    audienceOverlap(s.read.parquet(path),
      meta.get("lgk").map(_.toInt).getOrElse(12))
  }

  /** Gate form: the event-type audience-overlap matrix, state folded in
    * four event_id-mod slices. ORACLE-EXACT at the gate SF: below the
    * sketch's nominal capacity (lgK=12 → 4096 entries; the gate corpus
    * has 150 distinct users per type) a theta sketch retains EVERY hash
    * — theta stays 1.0, estimates are exact counts, and union/
    * intersection/difference of exact sketches are exact set algebra —
    * so the oracle recomputes the same integers from DISTINCT sets and
    * the Jaccard division is the same two exact doubles in both
    * engines. Above capacity the operator degrades to the bounded-error
    * estimates the SPEC envelope pins (the production regime; the gate
    * pins the algebra, the spec pins the estimator).
    */
  def audienceOverlapQ(s: SparkSession, dir: String): DataFrame =
    audienceOverlap(foldAll(StateKind.Audience(),
      mod4(Tables(s, dir).events, "event_id")))
      .orderBy(col("a"), col("b"))

  // ------------------------------------ incremental frequent-items sketch
  /** Per-partition Misra–Gries partials ([[sketchPartials]]). */
  private[graft] def freqPartials(events: DataFrame, keys: Seq[String],
      itemCol: String, maxMapSize: Int,
      flushKeys: Int = SketchPartialFlushKeys): DataFrame =
    sketchPartials(events, keys, col(itemCol).cast("string"),
      SketchMerges.freq(maxMapSize), flushKeys)

  /** Per-key FREQUENT-ITEMS state — the seventh incremental algebra,
    * completing the classic mergeable-summary quartet (HLL distinct,
    * KLL quantile, Theta set, frequency): "top items per segment,
    * maintained nightly" from bounded state. DataSketches ItemsSketch
    * (Misra–Gries) tracks up to 0.75·maxMapSize counters per key (the
    * map purges at its 0.75 load factor) with a guaranteed error bound
    * of 3.5·N/maxMapSize on every estimate (the library's getEpsilon);
    * below the purge threshold the counts are EXACT. Merge is the
    * counter-wise fold the algorithm defines, so fold(state, batch) ≡
    * sketch(history ∪ batch) within the bound — and exactly, below
    * capacity. State = (key STRING, sketch BINARY); top-k is a read-time
    * view ([[freqTopItems]]). `maxMapSize` must be a power of 2
    * (validated on the driver, not inside a task).
    */
  def freqState(events: DataFrame, key: String = "event_type",
      itemCol: String = "user_id", maxMapSize: Int = 1024): DataFrame =
    freqUpsertBy(None, events, key, Nil, itemCol, maxMapSize)

  /** Fold a raw batch into a [[freqState]] — per-key Misra–Gries merge,
    * same shape as the other sketch folds (batch-sized scan +
    * state-sized merge in ONE shuffle, history never rescanned).
    */
  def freqUpsert(state: DataFrame, batch: DataFrame,
      key: String = "event_type", itemCol: String = "user_id",
      maxMapSize: Int = 1024): DataFrame =
    freqUpsertBy(Some(state), batch, key, Nil, itemCol, maxMapSize)

  /** [[freqUpsert]] (or, without a state, [[freqState]]) grouped on `key`
    * and then `days` (a windowed form's day column, kept as it is).
    */
  private[etl] def freqUpsertBy(state: Option[DataFrame], batch: DataFrame,
      key: String, days: Seq[String], itemCol: String,
      maxMapSize: Int): DataFrame = {
    val partials =
      freqPartials(stringKey(batch, key), key +: days, itemCol, maxMapSize)
    mergeSketchFrames(state.fold(partials)(_.unionByName(partials)),
      key +: days, SketchMerges.freq(maxMapSize))
  }

  /** Read-time top-k view over a [[freqState]]: per key, the k most
    * frequent items with estimate and lower/upper bounds (Misra–Gries
    * NO_FALSE_NEGATIVES — every true heavy hitter appears), ranked by
    * estimate with item-string tie-break so the view is deterministic.
    */
  def freqTopItems(state: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    val s2 = state.sparkSession
    import s2.implicits._
    val key = state.columns.head
    state.select(col(key).cast("string").as("g"), col("sketch"))
      .as[(String, Array[Byte])]
      .flatMap { case (g, bytes) =>
        val sk = ItemsSketch.getInstance(
          org.apache.datasketches.memory.Memory.wrap(bytes),
          new ArrayOfStringsSerDe())
        sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
          .sortBy(r => (-r.getEstimate, r.getItem))
          .take(k).zipWithIndex.map { case (r, i) =>
            (g, (i + 1).toLong, r.getItem, r.getEstimate,
              r.getLowerBound, r.getUpperBound)
          }
      }
      .toDF(key, "rank", "item", "est", "lb", "ub")
  }

  /** Gate form: top-5 users per event type, state folded in four
    * event_id-mod slices. ORACLE-EXACT at the gate SF: below the purge
    * threshold (0.75·1024 = 768 counters ≫ the gate's 150 distinct
    * users/type) Misra–Gries never evicts, so every estimate is the
    * exact count and the ranked view equals the oracle's
    * count-then-rank over the raw events (ties broken by item string
    * in both engines). Above capacity the operator degrades to the
    * 3.5·N/maxMapSize-bounded estimates the spec pins.
    */
  def trendingItems(s: SparkSession, dir: String): DataFrame =
    freqTopItems(foldAll(StateKind.Freq(),
      mod4(Tables(s, dir).events, "event_id")))
      .orderBy(col("event_type"), col("rank"))

  /** Gate form: trailing-7-day top-5 users per event type from a
    * 14-day-retention windowed state folded in four event_id-mod
    * slices. ORACLE-EXACT at the gate SF: below the purge threshold
    * every (type, day) counter is exact and the day merge adds exact
    * counters, so the ranked view equals the oracle's windowed
    * count-then-rank (ties broken by item string in both engines).
    * Above capacity each day's error bound is 3.5·N_day/maxMapSize and
    * the merged bound adds across the retained days (still no false
    * negatives).
    */
  def trendingItemsWindowed(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.Windowed(StateKind.Freq(), retainDays = 14)
    kind.view(foldAll(kind, mod4(withDay(Tables(s, dir).events), "event_id")))
      .orderBy(col("event_type"), col("rank"))
  }

  // ------------------------------- incremental bottom-k (KMV) sample state
  /** Per-key DETERMINISTIC BOUNDED SAMPLE state — the EIGHTH incremental
    * algebra, and the only sampling form that is EXACTLY mergeable:
    * bottom-k (KMV) keeps each key's k smallest seeded-hash values, and
    * bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) is a set
    * identity — no sketch library, no randomized compaction, no RNG
    * state. The hash order is a uniform permutation of the value domain,
    * so the retained values ARE a uniform without-replacement sample of
    * each key's distinct values ("keep 64 example users per segment,
    * maintained nightly"), reproducible across re-runs, replicas and
    * engines (md5 — the [[graft.ops.Curation]] sampling primitive). Fold
    * ≡ recompute BIT-exactly (spec-pinned), which also makes the gate
    * oracle-checkable — the one bounded-sample maintenance form with an
    * exactness story. A KMV distinct estimate rides free at read time
    * ([[sampleDistinctEstimate]]). State = (keys..., rank, h, value), ≤ k
    * rows per key.
    *
    * The windowed form stays EXACT too: a value in the window's bottom-k
    * has fewer than k smaller hashes in the whole window, hence fewer
    * than k on each day it appeared — so it IS in that day's stored
    * bottom-k, and re-truncating the retained days ([[sampleMerge]])
    * reconstructs the window's exact bottom-k.
    *
    * Scale shape: one map-side-combinable DISTINCT exchange of the
    * batch's (key, value) pairs + one per-key rank truncation (TopK
    * window — each group's heap is k); the fold unions k-bounded state
    * rows with the batch's candidates and re-truncates, history never
    * rescanned. Seed and k are estimate-shaping — the durable form
    * stamps both ([[stateMeta]]).
    */
  def sampleState(events: DataFrame, keys: Seq[String] = Seq("event_type"),
      valueCol: String = "user_id", k: Int = 64,
      seed: String = "bk0"): DataFrame = {
    require(k >= 1, s"bottom-k needs k >= 1, got $k")
    bottomK(events
      .select(keys.map(col) :+ col(valueCol).cast("string").as("value"): _*)
      .filter(col("value").isNotNull)
      .distinct()
      .withColumn("h", md5(concat_ws(":", lit(seed), col("value")))), keys, k)
  }

  /** Fold a raw batch into a [[sampleState]]: union the k-bounded state
    * with the batch's own bottom-k candidates and re-truncate
    * ([[sampleMerge]]). Associative, commutative, duplicate-absorbing,
    * and EXACT by the bottom-k set identity, so late/replayed/permuted
    * batches fold to the identical state (spec-pinned bit-exactly).
    */
  def sampleUpsert(state: DataFrame, batch: DataFrame,
      keys: Seq[String] = Seq("event_type"), valueCol: String = "user_id",
      k: Int = 64, seed: String = "bk0"): DataFrame =
    sampleMerge(state.unionByName(sampleState(batch, keys, valueCol, k, seed)),
      keys, k)

  /** Sample rows re-truncated per key: dedup (keys, h, value) — the same
    * value arriving again carries the identical hash — and keep each
    * key's k smallest hashes.
    */
  private[etl] def sampleMerge(rows: DataFrame, keys: Seq[String],
      k: Int): DataFrame =
    bottomK(rows.select(keys.map(col) ++ Seq(col("h"), col("value")): _*)
      .distinct(), keys, k)

  /** Rank distinct (keys, h, value) rows by (h, value) per key and keep
    * the first k.
    */
  private def bottomK(rows: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("h"), col("value"))
    rows.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(keys.map(col) ++ Seq(col("rank"), col("h"), col("value")): _*)
  }

  /** Read-time KMV distinct estimate over a [[sampleState]]: a key
    * holding fewer than k values is EXACT (the sample is the whole set);
    * a full key estimates (k−1)/u_k from its k-th smallest hash's
    * uniform position (the classic KMV estimator; first 8 hex chars →
    * a dyadic uniform, the [[graft.ops.Curation.weightedSample]]
    * primitive). Never stored, per the derived-stats rule.
    */
  def sampleDistinctEstimate(state: DataFrame,
      keys: Seq[String] = Seq("event_type"), k: Int = 64): DataFrame =
    state.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rank") === k,
          (conv(substring(col("h"), 1, 8), 16, 10).cast("double")
            + lit(0.5)) / lit(4294967296.0))).as("_uk"))
      .withColumn("distinct_est",
        when(col("_uk").isNull, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("_uk")))
      .drop("_uk")

  /** Gate form: a deterministic 8-user bottom-k sample per event type,
    * folded in four event_id-mod slices. ORACLE-EXACT by the set
    * identity + determinism: DuckDB recomputes the identical k smallest
    * md5 hashes over each key's distinct users — no estimator, no
    * regime argument, the fold IS the recompute.
    */
  def incrementalSample(s: SparkSession, dir: String): DataFrame =
    foldAll(StateKind.Sample(k = 8), mod4(Tables(s, dir).events, "event_id"))
      .orderBy(col("event_type"), col("rank"))

  /** Gate form: the trailing-7-day 8-user sample per event type from a
    * 14-day-retention windowed state folded in four event_id-mod
    * slices. ORACLE-EXACT: the view's re-truncation reconstructs the
    * window's exact bottom-k, which DuckDB recomputes directly.
    */
  def incrementalSampleWindowed(s: SparkSession, dir: String): DataFrame = {
    val kind = StateKind.Windowed(StateKind.Sample(k = 8), retainDays = 14)
    kind.view(foldAll(kind, mod4(withDay(Tables(s, dir).events), "event_id")),
      lastNDays = 7)
      .orderBy(col("event_type"), col("rank"))
  }

  // ------------------------------------------------------------ CDC merge
  /** Generic CDC MERGE: fold a change batch into a base table with
    * upsert-or-delete semantics — the apply step downstream of every
    * change-capture feed (pyetl's keyed upsert, completed with deletes
    * and inserts). `changes` carries the key, a per-key-unique sequence
    * column, an `op` column ('D' deletes; anything else upserts) and any
    * subset of base's columns as new values. Latest change per key wins.
    *
    * Scale shape: the latest-per-key reduction is max_by over the
    * sequence — ONE map-side-combinable shuffle of the changes (which are
    * tiny next to base in any real feed); the apply is a single
    * full-outer equi-join on the key, so base shuffles once on the key it
    * is usually already bucketed by, and a broadcast-sized change batch
    * makes the apply shuffle-free on the base side. Keys absent from base
    * insert (unmatched payload columns stay null); present keys update
    * via coalesce; 'D' rows vanish.
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, key: String,
      seq: String, op: String = "op"): DataFrame = {
    val payload = changes.columns.filterNot(Set(key, seq, op)).toSeq
    val latest = changes.groupBy(col(key)).agg(
      max(col(seq)).as("last_seq"),
      max_by(col(op), col(seq)).as("_op") +:
        payload.map(c => max_by(col(c), col(seq)).as(s"_new_$c")): _*)
    val merged = base.join(latest, Seq(key), "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
    val outCols = base.columns.map { c =>
      if (c == key) col(key)
      else if (payload.contains(c)) coalesce(col(s"_new_$c"), col(c)).as(c)
      else col(c)
    } :+ col("last_seq")
    merged.select(outCols.toSeq: _*)
  }

  /** Gate entry: orders as the change feed against customer as the base —
    * every order is a change event sequenced by its orderkey; custkeys
    * ≡ 0 (mod 10) delete, custkeys ≡ 0 (mod 7) shift to a fresh key
    * (exercising the insert path), everything else updates the account
    * balance to the order total.
    */
  def mergeUpsertOrders(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val base = t.customer.select(col("c_custkey").cast(LongType).as("c_custkey"),
      col("c_name"), col("c_acctbal"))
    val changes = t.orders.select(
      when(col("o_custkey") % 7 === 0, col("o_custkey") + 1000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      col("o_orderkey").as("seq"),
      when(col("o_custkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
      col("o_totalprice").as("c_acctbal"))
    mergeUpsert(base, changes, "c_custkey", "seq")
      .orderBy(col("c_custkey"))
  }

  // ------------------------------------------------------------ snapshot diff
  /** Point-in-time snapshot diff over an append-only change log: the state
    * each key had after applying the log up to `cut` vs the state at the
    * log's end, emitted as the `added`/`changed` delta an incremental
    * refresh would apply (an append-only log can't remove keys — deletes
    * need tombstones, which is [[mergeUpsert]]'s job).
    *
    * The naive formulation — build snapshot(T1), build snapshot(T2), FULL
    * OUTER JOIN them — scans the log twice and shuffles both snapshots.
    * This is ONE scan and ONE map-side-combinable aggregation: both
    * snapshots fall out of the same groupBy as conditional max_by's over
    * the sequence (max_by skips rows whose ordering expression is null, so
    * `when(seq <= cut, seq)` restricts the winner to the T1 prefix without
    * a second pass), and the diff is a filter on the aggregate — no join
    * anywhere. At 100 TB the shuffle carries one partial row per key per
    * map task, the same cost as [[latestByKey]].
    *
    * `cut` may be a literal or a column (the gate entry cross-joins a
    * broadcast 1-row bounds frame, the gap_fill discipline — nothing
    * collects on the driver).
    */
  def snapshotDiff(log: DataFrame, keys: Seq[String], seq: Column,
      value: Column, cut: Column): DataFrame = {
    val st = log.groupBy(keys.map(col): _*).agg(
      max_by(value, when(seq <= cut, seq)).as("old_value"),
      count(when(seq <= cut, 1)).as("n_old"),
      max_by(value, seq).as("new_value"),
      count(when(seq > cut, 1)).as("n_new_events"))
    st.filter(col("n_old") === 0 || col("old_value") =!= col("new_value"))
      .select(keys.map(col) ++ Seq(
        when(col("n_old") === 0, lit("added")).otherwise(lit("changed"))
          .as("status"),
        col("old_value"), col("new_value"), col("n_new_events")): _*)
  }

  /** Gate entry: per-(user, event_type) state = latest `value` by event_id
    * (the log-sequence ordering a CDC replay uses — unique, so the winner
    * is deterministic; a timestamp ordering would tie within a
    * microsecond), cut at half the log. */
  def snapshotDiffEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val bounds = ev.agg(floor(max(col("event_id")) / 2).cast(LongType).as("cut"))
    snapshotDiff(ev.crossJoin(broadcast(bounds)),
        Seq("user_id", "event_type"), col("event_id"), col("value"), col("cut"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // ------------------------------------------------------------ quality audit
  /** Data-quality audit — the validation pass a config-driven ingest runs
    * before promoting a landing zone: one row per rule with its violation
    * count (zero rows are still reported, so a silently-empty rule can't
    * pass unnoticed). Each table contributes ONE scan with all of its
    * rules as conditional counts (a rule-per-query formulation would scan
    * events three times); the referential-integrity rule is the only
    * shuffle, and it's the standard anti-join shape. At 100 TB this is a
    * handful of scans producing a seven-row frame — driver-safe.
    */
  def qualityAudit(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    def cnt(c: Column): Column = count(when(c, 1))
    val ev = t.events.agg(
      cnt(col("user_id").isNull).as("events_null_user"),
      cnt(get_json_object(col("props"), "$.k").isNull).as("events_bad_props"),
      cnt(col("value") < 0).as("events_negative_value"))
    val ord = t.orders.agg(
      cnt(col("o_totalprice") <= 0).as("orders_nonpositive_total"))
    val docs = t.documents.agg(
      cnt(length(col("text")) =!= col("n_chars")).as("documents_nchars_mismatch"),
      cnt(col("text").isNull || length(col("text")) === 0).as("documents_empty"),
      cnt(col("n_chars") < 100).as("documents_short_text"))
    val orphan = t.lineitem.select(col("l_orderkey"))
      .join(t.orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("lineitem_orphan_order"))
    def unpivot(df: DataFrame): Seq[DataFrame] =
      df.columns.toSeq.map(c =>
        df.select(lit(c).as("rule"), col(c).as("n_violations")))
    (unpivot(ev) ++ unpivot(ord) ++ unpivot(docs) ++ unpivot(orphan))
      .reduce(_ union _)
      .orderBy(col("rule"))
  }

  // ------------------------------------------- config-first state folds
  /** Config-driven nightly fold — the [[graft.etl.Pipeline.runConfig]] /
    * [[graft.ops.Maintenance.runConfig]] discipline for the durable state
    * family, so the nightly job is a JSON document, not code:
    *
    * {{{
    * {"batchId": 17,
    *  "input": {"path": "/landing/2024-07-01", "format": "parquet"},
    *  "derive": {"day": "CAST(ts DIV 1000000000 DIV 86400 AS BIGINT)"},
    *  "states": [
    *    {"name": "daily_totals", "kind": "agg", "path": "/states/agg",
    *     "keys": "user_id,event_type", "value_col": "value"},
    *    {"name": "uniques", "kind": "distinct_windowed",
    *     "path": "/states/uniq", "keys": "event_type",
    *     "value_col": "user_id", "lgk": 12, "retain_days": 30},
    *    {"name": "latency_q", "kind": "quantile", "path": "/states/q",
    *     "key": "event_type", "value_col": "value", "k": 200},
    *    {"name": "facts_x_dims", "kind": "join", "path": "/states/jv",
    *     "keys": "dim_id",
    *     "right_input": {"path": "/landing/dims/2024-07-01"}},
    *    {"name": "facts_enriched", "kind": "join_left",
    *     "path": "/states/jvl", "keys": "dim_id"}]}
    * }}}
    *
    * One batch read feeds EVERY state (the `derive` block adds computed
    * columns — e.g. the day bucket — as Spark SQL expressions, the
    * Pipeline rule: no private mini-language). A state block's `kind` is
    * any [[StateKind]] registry name (each base kind and its `_windowed`
    * form), and its other fields are that kind's `_state_meta` stamp
    * names, parsed by the registry — so a document reads as the stamp it
    * produces, and every fold routes through [[foldAt]], whose stamp
    * fence raises on a document whose parameters (or kind) disagree with
    * an existing state's stamp before any plan is built. All state blocks
    * are validated BEFORE any fold runs (a config typo must not leave the
    * state set half-folded under one batch id); replayed ids are
    * per-state no-ops by the watermark fence, reported as
    * `folded = false`.
    *
    * Two more kinds route the materialized-join family under ITS
    * protocol, outside the registry: `join` folds [[joinUpsertAt]] with
    * the document's input as the LEFT delta and the block's
    * `right_input` as the right delta; `join_left` folds
    * [[joinUpsertLeftAt]] against the right side seeded once at
    * `path/right`. Both take `keys` (required) and `broadcast_deltas`;
    * replay is fenced by the multi-dir batch marker, and the
    * `_join_protocol` stamp raises on a document that routes an existing
    * state through the other join form. Returns (state, kind, batch_id,
    * folded).
    */
  def foldConfig(s: SparkSession, configJson: String): DataFrame = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(configJson)
    def optField(n: JsonNode, name: String): Option[JsonNode] =
      Option(n.get(name)).filterNot(_.isNull)
    require(root.hasNonNull("batchId"), "config needs batchId")
    require(root.hasNonNull("input") && root.get("input").hasNonNull("path"),
      "config needs input.path")
    require(root.hasNonNull("states"), "config needs states")
    val batchId = root.get("batchId").asLong
    // validate EVERY state block before any IO (a config typo must fail
    // with the named require, before any read and before any fold —
    // nothing may be left half-folded under one batch id). Each block
    // yields its IO-checking step, which in turn yields its fold.
    val blocks = root.get("states").elements().asScala.toSeq.map { st =>
      require(st.hasNonNull("kind") && st.hasNonNull("path"),
        "every state needs kind and path")
      val kind = st.get("kind").asText
      val path = st.get("path").asText
      val name = optField(st, "name").map(_.asText).getOrElse(path)
      def joinKeys = {
        require(st.hasNonNull("keys"), s"$kind state at $path needs keys")
        st.get("keys").asText.split(",").toSeq
      }
      val bc = optField(st, "broadcast_deltas").forall(_.asBoolean)
      val prepare: () => DataFrame => Unit = kind match {
        case "join" =>
          val keys = joinKeys
          require(st.hasNonNull("right_input") &&
            st.get("right_input").hasNonNull("path"),
            s"join state at $path needs right_input.path")
          () => {
            // the right delta loads (so an unreadable path throws) with
            // the other blocks' checks, before any state folds
            val ri = st.get("right_input")
            val right = s.read
              .format(optField(ri, "format").map(_.asText).getOrElse("parquet"))
              .load(ri.get("path").asText)
            batch => joinUpsertAt(s, path, batch, right, batchId, keys, bc)
          }
        case "join_left" =>
          val keys = joinKeys
          () => {
            val r = new org.apache.hadoop.fs.Path(s"$path/right")
            require(r.getFileSystem(s.sparkContext.hadoopConfiguration)
                .exists(r),
              s"join_left state at $path needs its right side seeded at " +
                "<path>/right before the first fold")
            batch => joinUpsertLeftAt(s, path, batch, batchId, keys, bc)
          }
        case _ =>
          val sk = StateKind.parse(kind, path,
            k => optField(st, k).map(_.asText))
          () => batch => foldAt(s, path, batch, batchId, sk)
      }
      (name, kind, path, prepare)
    }
    val folds = blocks.map(_._4())
    val input = root.get("input")
    val format = optField(input, "format").map(_.asText).getOrElse("parquet")
    val batch0 = s.read.format(format).load(input.get("path").asText)
    val batch = optField(root, "derive").map { d =>
      d.properties().asScala.foldLeft(batch0)((b, e) =>
        b.withColumn(e.getKey, expr(e.getValue.asText)))
    }.getOrElse(batch0)
    val rows = blocks.zip(folds).map { case ((name, kind, path, _), fold) =>
      // replay detection per protocol: the registry states fence on the
      // fold watermark, the join states on the multi-dir batch marker —
      // read BEFORE the fold so the report says whether this call did
      // work or replayed
      val alreadyFolded =
        if (kind.startsWith("join"))
          graft.streaming.Streams.isBatchCommitted(s, path, batchId)
        else aggFoldWatermark(s, path) >= batchId
      fold(batch)
      (name, kind, batchId, !alreadyFolded)
    }
    import s.implicits._
    rows.toDF("state", "kind", "batch_id", "folded")
  }

  /** Gate form (rows-only — the report is operational metadata): a
    * nightly-fold DOCUMENT run end-to-end at gate scale. The events table
    * lands as two batch dirs (event_id mod 2 — the scratch build is
    * memoized per session+corpus like the skipping gates), then the SAME
    * five-state document folds each batch under its id: an additive
    * aggregate, an HLL distinct, a KLL quantile, a day-windowed KMV
    * sample, and a seeded-dim materialized join (`join_left` against a
    * per-event-type dim written once at seed time) — one document
    * exercising five algebras across BOTH durability protocols
    * (watermark fence + multi-dir batch marker), the day bucket derived
    * IN the document. Re-runs replay-fence (folded=false), which is
    * exactly what the report should say.
    */
  def stateFoldConfig(s: SparkSession, dir: String): DataFrame = {
    val base = graft.ops.SessionMemo.scratchPath(s, "graft_statecfg", dir)
    val done = new org.apache.hadoop.fs.Path(s"$base/batch1/_SUCCESS")
    if (!done.getFileSystem(s.sparkContext.hadoopConfiguration).exists(done)) {
      val e = Tables(s, dir).events
      e.filter(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$base/batch0")
      // the join_left state's right side is seeded ONCE, never
      // batch-written — the streaming joinIngestSink shape. Written
      // BEFORE batch1: batch1's _SUCCESS is the memo sentinel for this
      // whole block, so it must be the LAST artifact written or an
      // interrupted first build leaves a guard-passing scratch with no
      // seeded right side
      Tables(s, dir).events.select(col("event_type")).distinct()
        .withColumn("type_tag", concat(lit("t_"), col("event_type")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/st_join/right")
      e.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$base/batch1")
    }
    def doc(id: Long): String =
      s"""{"batchId": $id,
         | "input": {"path": "$base/batch$id"},
         | "derive": {"day": "CAST(ts DIV 1000000000 DIV 86400 AS BIGINT)"},
         | "states": [
         |  {"name": "daily_totals", "kind": "agg", "path": "$base/st_agg",
         |   "keys": "event_type", "value_col": "value"},
         |  {"name": "uniques", "kind": "distinct", "path": "$base/st_dst",
         |   "keys": "event_type", "value_col": "user_id"},
         |  {"name": "latency_q", "kind": "quantile", "path": "$base/st_q",
         |   "key": "event_type", "value_col": "value"},
         |  {"name": "recent_sample", "kind": "sample_windowed",
         |   "path": "$base/st_smp", "keys": "event_type",
         |   "value_col": "user_id", "k": 8, "retain_days": 14},
         |  {"name": "facts_enriched", "kind": "join_left",
         |   "path": "$base/st_join", "keys": "event_type"}]}""".stripMargin
    foldConfig(s, doc(0)).unionByName(foldConfig(s, doc(1)))
      .orderBy(col("batch_id"), col("state"))
  }

  // =================================================================
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_state_fold_config" -> (stateFoldConfig _),
    "etl_incremental_agg"  -> (incrementalAgg _),
    "etl_incremental_agg_stats" -> (incrementalAggStats _),
    "etl_incremental_ewma" -> (incrementalEwma _),
    "etl_incremental_join" -> (incrementalJoin _),
    "etl_incremental_distinct" -> (incrementalDistinct _),
    "etl_incremental_distinct_windowed" -> (incrementalDistinctWindowed _),
    "etl_incremental_quantiles" -> (incrementalQuantiles _),
    "etl_incremental_quantiles_windowed" -> (incrementalQuantilesWindowed _),
    "etl_audience_overlap" -> (audienceOverlapQ _),
    "etl_audience_overlap_windowed" -> (audienceOverlapWindowed _),
    "etl_incremental_sample" -> (incrementalSample _),
    "etl_incremental_sample_windowed" -> (incrementalSampleWindowed _),
    "etl_trending_items" -> (trendingItems _),
    "etl_trending_items_windowed" -> (trendingItemsWindowed _),
    "etl_rolling_aggregate" -> (rollingAggregate _),
    "etl_quality_audit"    -> (qualityAudit _),
    "etl_scd2"             -> (scd2 _),
    "etl_merge_upsert"     -> (mergeUpsertOrders _),
    "etl_snapshot_diff"    -> (snapshotDiffEvents _),
    "etl_gap_fill"         -> (gapFill _),
    "etl_redact"           -> (redactDocs _),
    "etl_pseudonymize"     -> (pseudonymizeEvents _),
    "etl_json_extract"     -> (jsonExtract _),
    "etl_enrich_partition" -> (enrichPartition _),
    "etl_route_filter"     -> (routeFilter _),
    "etl_latest_by_key"    -> (latestByKey _),
    "etl_sessionize"       -> (sessionize _),
    "etl_tumbling_window"  -> (tumblingWindow _),
    "etl_sliding_window"   -> (slidingWindow _))

  /** DuckDB twins. events.ts is TIMESTAMP(NANOS) → DuckDB truncates to
    * micros; epoch_ms(ts)//1000 is the same floor-second Spark computes from
    * the nanos long.
    */
  val oracles: Map[String, String] = Map(
    "etl_rolling_aggregate" ->
      """WITH e AS (SELECT event_type, value,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    epoch_ms(ts)//1000//86400 AS day FROM events),
        |m AS (SELECT MAX(day) AS mx FROM e),
        |st AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(v) AS DECIMAL(28,2)) AS sv,
        |    CAST(sum(CAST(v * v AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS svv,
        |    min(value) AS min_value, max(value) AS max_value
        |  FROM e, m WHERE day > mx - 7 GROUP BY event_type),
        |d AS (SELECT *,
        |    CAST(n_events AS DOUBLE) AS nd,
        |    CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS svd,
        |    CAST(CAST(svv AS VARCHAR) AS DOUBLE) AS svvd
        |  FROM st)
        |SELECT event_type, n_events, svd AS sum_value, svvd AS sumsq_value,
        |  min_value, max_value,
        |  svd / nd AS avg_value,
        |  GREATEST(svvd / nd - (svd / nd) * (svd / nd), 0.0) AS var_value,
        |  SQRT(GREATEST(svvd / nd - (svd / nd) * (svd / nd), 0.0))
        |    AS stddev_value
        |FROM d ORDER BY event_type""".stripMargin,
    "etl_incremental_distinct" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_est
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_incremental_sample" ->
      """WITH d AS (SELECT DISTINCT event_type,
        |    CAST(user_id AS VARCHAR) AS value
        |  FROM events WHERE user_id IS NOT NULL),
        |h AS (SELECT event_type, value, md5('bk0:' || value) AS h FROM d),
        |r AS (SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY h, value) AS BIGINT) AS rank, h, value FROM h)
        |SELECT event_type, rank, h, value FROM r WHERE rank <= 8
        |ORDER BY event_type, rank""".stripMargin,
    "etl_incremental_sample_windowed" ->
      """WITH e AS (SELECT event_type, user_id,
        |    epoch_ms(ts)//1000//86400 AS day FROM events
        |  WHERE user_id IS NOT NULL),
        |m AS (SELECT MAX(day) AS mx FROM e),
        |d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS value
        |  FROM e, m WHERE day > mx - 7),
        |h AS (SELECT event_type, value, md5('bk0:' || value) AS h FROM d),
        |r AS (SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY h, value) AS BIGINT) AS rank, h, value FROM h)
        |SELECT event_type, rank, h, value FROM r WHERE rank <= 8
        |ORDER BY event_type, rank""".stripMargin,
    "etl_incremental_distinct_windowed" ->
      """WITH e AS (SELECT event_type, user_id,
        |    epoch_ms(ts)//1000//86400 AS day FROM events),
        |m AS (SELECT MAX(day) AS mx FROM e)
        |SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_est
        |FROM e, m WHERE day > mx - 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_audience_overlap_windowed" ->
      """WITH e AS (SELECT event_type, user_id,
        |    epoch_ms(ts)//1000//86400 AS day FROM events),
        |m AS (SELECT MAX(day) AS mx FROM e),
        |s AS (SELECT DISTINCT event_type AS t, user_id AS u
        |  FROM e, m WHERE day > mx - 7),
        |sizes AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY t),
        |inter AS (SELECT sa.t AS a, sb.t AS b, CAST(COUNT(*) AS BIGINT) AS ci
        |  FROM s sa JOIN s sb ON sa.u = sb.u AND sa.t < sb.t GROUP BY 1, 2)
        |SELECT xa.t AS a, xb.t AS b,
        |  CAST(xa.c AS DOUBLE) AS est_a, CAST(xb.c AS DOUBLE) AS est_b,
        |  CAST(xa.c + xb.c - COALESCE(ci, 0) AS DOUBLE) AS est_union,
        |  CAST(COALESCE(ci, 0) AS DOUBLE) AS est_intersection,
        |  CAST(xa.c - COALESCE(ci, 0) AS DOUBLE) AS est_a_only,
        |  CAST(xb.c - COALESCE(ci, 0) AS DOUBLE) AS est_b_only,
        |  CAST(COALESCE(ci, 0) AS DOUBLE)
        |    / CAST(xa.c + xb.c - COALESCE(ci, 0) AS DOUBLE) AS jaccard
        |FROM sizes xa JOIN sizes xb ON xa.t < xb.t
        |LEFT JOIN inter ON inter.a = xa.t AND inter.b = xb.t
        |ORDER BY a, b""".stripMargin,
    "etl_trending_items" ->
      """WITH c AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item,
        |    CAST(COUNT(*) AS BIGINT) AS est FROM events GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY est DESC, item) AS BIGINT) AS rank FROM c)
        |SELECT event_type, rank, item, est, est AS lb, est AS ub
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "etl_trending_items_windowed" ->
      """WITH e AS (SELECT event_type, user_id,
        |    epoch_ms(ts)//1000//86400 AS day FROM events),
        |m AS (SELECT MAX(day) AS mx FROM e),
        |c AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item,
        |    CAST(COUNT(*) AS BIGINT) AS est
        |  FROM e, m WHERE day > mx - 7 GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY est DESC, item) AS BIGINT) AS rank FROM c)
        |SELECT event_type, rank, item, est, est AS lb, est AS ub
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "etl_audience_overlap" ->
      """WITH s AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |sizes AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY t),
        |inter AS (SELECT sa.t AS a, sb.t AS b, CAST(COUNT(*) AS BIGINT) AS ci
        |  FROM s sa JOIN s sb ON sa.u = sb.u AND sa.t < sb.t GROUP BY 1, 2)
        |SELECT xa.t AS a, xb.t AS b,
        |  CAST(xa.c AS DOUBLE) AS est_a, CAST(xb.c AS DOUBLE) AS est_b,
        |  CAST(xa.c + xb.c - COALESCE(ci, 0) AS DOUBLE) AS est_union,
        |  CAST(COALESCE(ci, 0) AS DOUBLE) AS est_intersection,
        |  CAST(xa.c - COALESCE(ci, 0) AS DOUBLE) AS est_a_only,
        |  CAST(xb.c - COALESCE(ci, 0) AS DOUBLE) AS est_b_only,
        |  CAST(COALESCE(ci, 0) AS DOUBLE)
        |    / CAST(xa.c + xb.c - COALESCE(ci, 0) AS DOUBLE) AS jaccard
        |FROM sizes xa JOIN sizes xb ON xa.t < xb.t
        |LEFT JOIN inter ON inter.a = xa.t AND inter.b = xb.t
        |ORDER BY a, b""".stripMargin,
    "etl_incremental_join" ->
      """SELECT c.c_custkey, o.o_orderkey,
        |  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
        |  c.c_name, CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "etl_incremental_agg" ->
      """SELECT user_id, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "etl_incremental_agg_stats" ->
      """WITH st AS (SELECT l_returnflag, l_linestatus,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sq,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DECIMAL(38,4)) AS sqq,
        |    min(l_quantity) AS min_l_quantity,
        |    max(l_quantity) AS max_l_quantity,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS se,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DECIMAL(38,4)) AS see,
        |    min(l_extendedprice) AS min_l_extendedprice,
        |    max(l_extendedprice) AS max_l_extendedprice
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |d AS (SELECT *,
        |    -- decimal -> double via VARCHAR: DuckDB's direct decimal cast
        |    -- double-rounds int128-scaled values past 2^53 (1-ulp off on
        |    -- ~1e13 sums of squares); the string path is correctly rounded,
        |    -- which is what Spark's BigDecimal.doubleValue produces
        |    CAST(n_events AS DOUBLE) AS nd,
        |    CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sqd,
        |    CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS sqqd,
        |    CAST(CAST(se AS VARCHAR) AS DOUBLE) AS sed,
        |    CAST(CAST(see AS VARCHAR) AS DOUBLE) AS seed
        |  FROM st)
        |SELECT l_returnflag, l_linestatus, n_events,
        |  sqd AS sum_l_quantity, sqqd AS sumsq_l_quantity,
        |  min_l_quantity, max_l_quantity,
        |  sed AS sum_l_extendedprice, seed AS sumsq_l_extendedprice,
        |  min_l_extendedprice, max_l_extendedprice,
        |  sqd / nd AS avg_l_quantity,
        |  GREATEST(sqqd / nd - (sqd / nd) * (sqd / nd), 0.0) AS var_l_quantity,
        |  SQRT(GREATEST(sqqd / nd - (sqd / nd) * (sqd / nd), 0.0)) AS stddev_l_quantity,
        |  sed / nd AS avg_l_extendedprice,
        |  GREATEST(seed / nd - (sed / nd) * (sed / nd), 0.0) AS var_l_extendedprice,
        |  SQRT(GREATEST(seed / nd - (sed / nd) * (sed / nd), 0.0)) AS stddev_l_extendedprice
        |FROM d ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "etl_incremental_ewma" ->
      """SELECT user_id,
        |  max(event_id) AS last_event_id,
        |  list_reduce(list(value ORDER BY event_id),
        |    (a, x) -> 0.5 * x + 0.5 * a) AS ewma
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "etl_merge_upsert" ->
      """WITH ch AS (SELECT
        |    CASE WHEN o_custkey % 7 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS c_custkey,
        |    o_orderkey AS seq,
        |    CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS acctbal
        |  FROM orders),
        |latest AS (SELECT c_custkey, MAX(seq) AS last_seq,
        |    arg_max(acctbal, seq) AS new_acctbal, arg_max(op, seq) AS last_op
        |  FROM ch GROUP BY 1)
        |SELECT COALESCE(b.c_custkey, l.c_custkey) AS c_custkey, b.c_name,
        |  COALESCE(l.new_acctbal, b.c_acctbal) AS c_acctbal, l.last_seq
        |FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.c_custkey
        |WHERE l.last_op IS NULL OR l.last_op <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "etl_pseudonymize" ->
      """SELECT event_id,
        |  sha256('pepper:' || CAST(user_id AS VARCHAR)) AS user_id,
        |  event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "etl_snapshot_diff" ->
      """WITH b AS (SELECT CAST(FLOOR(MAX(event_id) / 2) AS BIGINT) AS cut
        |  FROM events),
        |st AS (SELECT user_id, event_type,
        |    arg_max(value, event_id) FILTER (event_id <= cut) AS old_value,
        |    COUNT(*) FILTER (event_id <= cut) AS n_old,
        |    arg_max(value, event_id) AS new_value,
        |    COUNT(*) FILTER (event_id > cut) AS n_new_events
        |  FROM events, b GROUP BY user_id, event_type)
        |SELECT user_id, event_type,
        |  CASE WHEN n_old = 0 THEN 'added' ELSE 'changed' END AS status,
        |  old_value, new_value, n_new_events
        |FROM st WHERE n_old = 0 OR old_value <> new_value
        |ORDER BY user_id, event_type""".stripMargin,
    "etl_gap_fill" ->
      """WITH ev AS (SELECT user_id % 10 AS bucket,
        |    epoch_ms(ts)//1000//3600 AS h, value FROM events),
        |agg AS (SELECT bucket, h, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM ev GROUP BY bucket, h),
        |bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
        |grid AS (SELECT b.bucket, g.h
        |  FROM (SELECT DISTINCT bucket FROM ev) b,
        |       (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) g)
        |SELECT grid.bucket, grid.h,
        |  COALESCE(agg.n, 0) AS n,
        |  LAST_VALUE(agg.sum_value IGNORE NULLS) OVER (
        |    PARTITION BY grid.bucket ORDER BY grid.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid LEFT JOIN agg ON grid.bucket = agg.bucket AND grid.h = agg.h
        |ORDER BY grid.bucket, grid.h""".stripMargin,
    "etl_scd2" ->
      """SELECT user_id, event_id, value,
        |  epoch_ms(ts)//1000 AS valid_from,
        |  LEAD(epoch_ms(ts)//1000) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts)//1000, event_id) AS valid_to,
        |  CAST(CASE WHEN LEAD(epoch_ms(ts)//1000) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts)//1000, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM events WHERE event_type = 'signup'
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "etl_quality_audit" ->
      """WITH ev AS (SELECT
        |    COUNT(*) FILTER (user_id IS NULL) AS events_null_user,
        |    COUNT(*) FILTER (CASE WHEN json_valid(props)
        |      THEN json_extract(props, '$.k') END IS NULL) AS events_bad_props,
        |    COUNT(*) FILTER (value < 0) AS events_negative_value
        |  FROM events),
        |ord AS (SELECT COUNT(*) FILTER (o_totalprice <= 0) AS orders_nonpositive_total
        |  FROM orders),
        |docs AS (SELECT
        |    COUNT(*) FILTER (length(text) <> n_chars) AS documents_nchars_mismatch,
        |    COUNT(*) FILTER (text IS NULL OR length(text) = 0) AS documents_empty,
        |    COUNT(*) FILTER (n_chars < 100) AS documents_short_text
        |  FROM documents),
        |orph AS (SELECT COUNT(*) AS lineitem_orphan_order FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |SELECT 'events_null_user' AS rule, events_null_user AS n_violations FROM ev
        |UNION ALL SELECT 'events_bad_props', events_bad_props FROM ev
        |UNION ALL SELECT 'events_negative_value', events_negative_value FROM ev
        |UNION ALL SELECT 'orders_nonpositive_total', orders_nonpositive_total FROM ord
        |UNION ALL SELECT 'documents_nchars_mismatch', documents_nchars_mismatch FROM docs
        |UNION ALL SELECT 'documents_empty', documents_empty FROM docs
        |UNION ALL SELECT 'documents_short_text', documents_short_text FROM docs
        |UNION ALL SELECT 'lineitem_orphan_order', lineitem_orphan_order FROM orph
        |ORDER BY rule""".stripMargin,
    "etl_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9\-\s()]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\+?[0-9][0-9\-\s()]{6,}[0-9]')) AS BIGINT) AS n_phones
        |FROM documents ORDER BY doc_id""".stripMargin,
    "etl_json_extract" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "etl_enrich_partition" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS day,
        |  lower(event_type) AS etype, user_id, value
        |FROM events ORDER BY event_id""".stripMargin,
    "etl_route_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 50.0
        |ORDER BY event_id""".stripMargin,
    "etl_latest_by_key" ->
      """SELECT user_id, event_id, lower(event_type) AS etype, value,
        |  epoch_ms(ts)//1000 AS ts_epoch
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "etl_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts)//1000 AS sec
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM (SELECT *, LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev
        |        FROM ev)),
        |sessed AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
        |  FROM flagged)
        |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
        |  MIN(sec) AS session_start, MAX(sec) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessed GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx""".stripMargin,
    "etl_sliding_window" ->
      """WITH ev AS (SELECT event_type, value,
        |    (epoch_ms(ts)//1000) - ((epoch_ms(ts)//1000) % 300) AS base FROM events),
        |ex AS (SELECT event_type, value, unnest([base, base - 300]) AS window_start FROM ev)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ex GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    "etl_tumbling_window" ->
      """SELECT (epoch_ms(ts)//1000) - ((epoch_ms(ts)//1000) % 300) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin)
}
