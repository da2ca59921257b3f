package graft.etl

import org.apache.spark.sql.DataFrame

/** One of graft's incremental keyed states with its parameters bound —
  * the state algebra every derived form reads. A kind names its
  * `_state_meta` stamp and its grouping keys, and carries the hand-written
  * algebra: the state of one batch alone, the fold of a batch into a
  * state, the collapse of state rows onto fewer keys (what a windowed
  * read view needs to drop the day) and the read view. Everything else is
  * derived once, for every kind: the durable fence ([[JsonEtl.foldAt]]),
  * the day-windowed variant ([[StateKind.Windowed]]), the streaming sink
  * ([[graft.streaming.Streams.stateIngestSink]]), [[JsonEtl.foldConfig]]'s
  * validation and dispatch, and fsck's kind and key checks
  * ([[graft.ops.Fsck.fsckStateDir]]).
  *
  * The algebra is keyed by an explicit column list (`by`) so the windowed
  * variant is just the base kind grouped on `keys :+ dayCol`, with the
  * event-time expiry applied to every fold. `by` always starts with the
  * kind's keys; the sketch kinds store their key as a string and keep the
  * columns after it (the day) as they are.
  */
abstract class StateKind extends Product with Serializable {
  private[etl] def entry: StateKind.Entry
  /** The `_state_meta` kind name — the registry key. */
  def name: String = entry.name
  /** The grouping keys. */
  def keys: Seq[String]
  /** The stamped parameters besides `kind`, under their `_state_meta`
    * names (which are also the [[JsonEtl.foldConfig]] block's field names).
    */
  def params: Seq[(String, String)]
  /** The read view over a state (derived stats, estimates, rankings). */
  def view(state: DataFrame): DataFrame

  /** The state of one batch alone. */
  def state(batch: DataFrame): DataFrame = build(batch, keys)
  /** `batch` folded into `state` — history is never rescanned. */
  def fold(state: DataFrame, batch: DataFrame): DataFrame =
    foldBy(state, batch, keys)
  /** The `_state_meta` stamp: kind plus every estimate-shaping parameter. */
  final def stamp: Seq[(String, String)] = ("kind" -> name) +: params
  /** The columns that name one state row — fsck's uniqueness key. */
  def rowKey: Seq[String] = rowKeyOf(keys)

  private[etl] def build(batch: DataFrame, by: Seq[String]): DataFrame
  private[etl] def foldBy(state: DataFrame, batch: DataFrame,
      by: Seq[String]): DataFrame
  /** State rows re-combined on `by`; only kinds with a windowed form
    * need it.
    */
  private[etl] def merge(states: DataFrame, by: Seq[String]): DataFrame =
    throw new UnsupportedOperationException(s"$name states do not merge")
  private[etl] def rowKeyOf(by: Seq[String]): Seq[String] = by
}

object StateKind {
  import JsonEtl._

  /** A foldConfig block's (or a stamp's) parameters for one kind; a
    * missing required field fails with the block's path named.
    */
  final class Params(kind: String, where: String,
      get: String => Option[String]) {
    def str(k: String, d: String): String = get(k).getOrElse(d)
    def int(k: String, d: Int): Int = get(k).fold(d)(_.toInt)
    def num(k: String, d: Double): Double = get(k).fold(d)(_.toDouble)
    def cols(k: String, d: Seq[String]): Seq[String] =
      get(k).fold(d)(_.split(",").toSeq)
    def cols(k: String): Seq[String] = {
      require(get(k).nonEmpty, s"$kind state at $where needs $k")
      cols(k, Nil)
    }
  }

  /** One registry entry: a base kind's name, its windowed form's name (if
    * it has one) and how it reads its parameters.
    */
  sealed abstract class Entry(val name: String,
      val windowed: Option[String] = None) {
    def parse(p: Params): StateKind
  }

  /** The registry. A new kind is one case class with its entry, listed
    * here; every derived form picks it up.
    */
  val entries: Seq[Entry] =
    Seq(Agg, AggN, Ewma, Distinct, Quantile, Audience, Freq, Sample)

  private val parsers: Map[String, Params => StateKind] =
    entries.map(e => e.name -> (e.parse _)).toMap ++
      entries.flatMap(e => e.windowed.map(w => w -> { (p: Params) =>
        Windowed(e.parse(p), p.str("day_col", "day"),
          p.int("retain_days", 30))
      }))

  /** Every durable kind name, windowed forms included. */
  val names: Set[String] = parsers.keySet

  /** The kind `kind` with its parameters read from `get`; `where` names
    * the state in error messages.
    */
  def parse(kind: String, where: String,
      get: String => Option[String]): StateKind =
    parsers.getOrElse(kind, throw new IllegalArgumentException(
      s"unknown state kind '$kind' (expected one of " +
        s"${names.toSeq.sorted.mkString(", ")}): $where"))(
      new Params(kind, where, get))

  /** The kind a `_state_meta` stamp describes. */
  def fromStamp(meta: Map[String, String], where: String): StateKind =
    parse(meta.getOrElse("kind", "<absent>"), where, meta.get)

  // ------------------------------------------------------------ the kinds
  /** Additive count/sum/min/max of one value column ([[JsonEtl.aggState]]). */
  final case class Agg(keys: Seq[String] = Seq("user_id", "event_type"),
      valueCol: String = "value") extends StateKind {
    private[etl] def entry = Agg
    def params = Seq("keys" -> keys.mkString(","), "value_col" -> valueCol)
    def view(state: DataFrame) = state
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      aggState(b, by, valueCol)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      aggUpsert(st, b, by, valueCol)
  }
  object Agg extends Entry("agg") {
    def parse(p: Params) = {
      val d = Agg()
      Agg(p.cols("keys", d.keys), p.str("value_col", d.valueCol))
    }
  }

  /** Additive stats of N value columns ([[JsonEtl.aggStateN]]). */
  final case class AggN(keys: Seq[String], valueCols: Seq[String])
      extends StateKind {
    private[etl] def entry = AggN
    def params = Seq("keys" -> keys.mkString(","),
      "value_cols" -> valueCols.mkString(","))
    def view(state: DataFrame) = aggDerivedN(state, valueCols)
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      aggStateN(b, by, valueCols)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      aggUpsertN(st, b, by, valueCols)
    private[etl] override def merge(st: DataFrame, by: Seq[String]) =
      combineStatesN(st, by, valueCols)
  }
  object AggN extends Entry("agg_n", Some("agg_windowed")) {
    def parse(p: Params) = AggN(p.cols("keys"), p.cols("value_cols"))
  }

  /** Ordered exponential smoothing ([[JsonEtl.ewmaState]]). */
  final case class Ewma(keys: Seq[String] = Seq("user_id"),
      orderCol: String = "event_id", valueCol: String = "value",
      alpha: Double = 0.5) extends StateKind {
    private[etl] def entry = Ewma
    def params = Seq("keys" -> keys.mkString(","), "order_col" -> orderCol,
      "value_col" -> valueCol, "alpha" -> alpha.toString)
    def view(state: DataFrame) = state
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      ewmaState(b, by, orderCol, valueCol, alpha)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      ewmaUpsert(st, b, by, orderCol, valueCol, alpha)
  }
  object Ewma extends Entry("ewma") {
    def parse(p: Params) = {
      val d = Ewma()
      Ewma(p.cols("keys", d.keys), p.str("order_col", d.orderCol),
        p.str("value_col", d.valueCol), p.num("alpha", d.alpha))
    }
  }

  /** HLL distinct count ([[JsonEtl.distinctState]]). */
  final case class Distinct(keys: Seq[String] = Seq("event_type"),
      valueCol: String = "user_id", lgK: Int = 12) extends StateKind {
    private[etl] def entry = Distinct
    def params = Seq("keys" -> keys.mkString(","), "value_col" -> valueCol,
      "lgk" -> lgK.toString)
    def view(state: DataFrame) = distinctEstimate(state)
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      distinctState(b, by, valueCol, lgK)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      distinctUpsert(st, b, by, valueCol, lgK)
    private[etl] override def merge(st: DataFrame, by: Seq[String]) =
      unionHll(st, by)
  }
  object Distinct extends Entry("distinct", Some("distinct_windowed")) {
    def parse(p: Params) = {
      val d = Distinct()
      Distinct(p.cols("keys", d.keys), p.str("value_col", d.valueCol),
        p.int("lgk", d.lgK))
    }
  }

  /** KLL quantiles plus the exact row count ([[JsonEtl.quantileState]]). */
  final case class Quantile(key: String = "event_type",
      valueCol: String = "value", k: Int = 200) extends StateKind {
    private[etl] def entry = Quantile
    def keys = Seq(key)
    def params = Seq("key" -> key, "value_col" -> valueCol, "k" -> k.toString)
    def view(state: DataFrame) = quantileEstimates(state)
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      quantileStateBy(b, key, by.tail, valueCol, k)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      quantileUpsertBy(st, b, key, by.tail, valueCol, k)
    private[etl] override def merge(st: DataFrame, by: Seq[String]) =
      mergeSketchFrames(st, by, SketchMerges.kll(k))
  }
  object Quantile extends Entry("quantile", Some("quantile_windowed")) {
    def parse(p: Params) = {
      val d = Quantile()
      Quantile(p.str("key", d.key), p.str("value_col", d.valueCol),
        p.int("k", d.k))
    }
  }

  /** Theta set sketches and their pair algebra ([[JsonEtl.audienceState]]). */
  final case class Audience(key: String = "event_type",
      valueCol: String = "user_id", lgK: Int = 12) extends StateKind {
    private[etl] def entry = Audience
    def keys = Seq(key)
    def params = Seq("key" -> key, "value_col" -> valueCol,
      "lgk" -> lgK.toString)
    def view(state: DataFrame) = audienceOverlap(state, lgK)
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      audienceUpsertBy(None, b, key, by.tail, valueCol, lgK)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      audienceUpsertBy(Some(st), b, key, by.tail, valueCol, lgK)
    private[etl] override def merge(st: DataFrame, by: Seq[String]) =
      mergeSketchFrames(st, by, SketchMerges.theta(lgK))
  }
  object Audience extends Entry("audience", Some("audience_windowed")) {
    def parse(p: Params) = {
      val d = Audience()
      Audience(p.str("key", d.key), p.str("value_col", d.valueCol),
        p.int("lgk", d.lgK))
    }
  }

  /** Misra–Gries frequent items ([[JsonEtl.freqState]]). */
  final case class Freq(key: String = "event_type",
      itemCol: String = "user_id", maxMapSize: Int = 1024)
      extends StateKind {
    private[etl] def entry = Freq
    def keys = Seq(key)
    def params = Seq("key" -> key, "item_col" -> itemCol,
      "max_map_size" -> maxMapSize.toString)
    def view(state: DataFrame) = freqTopItems(state)
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      freqUpsertBy(None, b, key, by.tail, itemCol, maxMapSize)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      freqUpsertBy(Some(st), b, key, by.tail, itemCol, maxMapSize)
    private[etl] override def merge(st: DataFrame, by: Seq[String]) =
      mergeSketchFrames(st, by, SketchMerges.freq(maxMapSize))
  }
  object Freq extends Entry("freq", Some("freq_windowed")) {
    def parse(p: Params) = {
      val d = Freq()
      Freq(p.str("key", d.key), p.str("item_col", d.itemCol),
        p.int("max_map_size", d.maxMapSize))
    }
  }

  /** Deterministic bottom-k sample ([[JsonEtl.sampleState]]); one row per
    * (keys, rank).
    */
  final case class Sample(keys: Seq[String] = Seq("event_type"),
      valueCol: String = "user_id", k: Int = 64, seed: String = "bk0")
      extends StateKind {
    private[etl] def entry = Sample
    def params = Seq("keys" -> keys.mkString(","), "value_col" -> valueCol,
      "k" -> k.toString, "seed" -> seed)
    def view(state: DataFrame) = state
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      sampleState(b, by, valueCol, k, seed)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      sampleUpsert(st, b, by, valueCol, k, seed)
    private[etl] override def merge(st: DataFrame, by: Seq[String]) =
      sampleMerge(st, by, k)
    private[etl] override def rowKeyOf(by: Seq[String]) = by :+ "rank"
  }
  object Sample extends Entry("sample", Some("sample_windowed")) {
    def parse(p: Params) = {
      val d = Sample()
      Sample(p.cols("keys", d.keys), p.str("value_col", d.valueCol),
        p.int("k", d.k), p.str("seed", d.seed))
    }
  }

  // ------------------------------------------------------ windowed form
  /** The day-windowed, EXPIRING form of a base kind: the base algebra
    * grouped on (keys..., dayCol), each fold followed by the event-time
    * expiry of days at or below (max day − retainDays). Retention derives
    * from the state's own max day, never the wall clock, so re-running a
    * fold reproduces its state bit for bit. Horizons only advance under
    * append-only feeds, so a day dropped at fold k stays dropped: late
    * data for an expired day re-expires inside its own fold, and late
    * data inside the horizon folds into its (key, day) row — fold ≡
    * recompute over the retained window (spec-pinned per kind). State
    * size stays bounded by keys × retainDays. The read view collapses
    * the day dimension over the trailing `lastNDays` (≤ retention) with
    * the base kind's merge, then serves the base view; keeping per-day
    * rows lets any trailing window up to the retention be served.
    */
  final case class Windowed(base: StateKind, dayCol: String = "day",
      retainDays: Int = 30) extends StateKind {
    require(base.entry.windowed.nonEmpty && !base.isInstanceOf[Windowed],
      s"${base.name} states have no windowed form")
    private[etl] def entry = base.entry
    override def name = entry.windowed.get
    def keys = base.keys
    def params = base.params ++
      Seq("day_col" -> dayCol, "retain_days" -> retainDays.toString)
    def view(state: DataFrame): DataFrame = view(state, 7)
    def view(state: DataFrame, lastNDays: Int): DataFrame =
      base.view(base.merge(expireDays(state, dayCol, lastNDays), keys))
    private[etl] def build(b: DataFrame, by: Seq[String]) =
      expireFold(base.build(b, by :+ dayCol), dayCol, retainDays)
    private[etl] def foldBy(st: DataFrame, b: DataFrame, by: Seq[String]) =
      expireFold(base.foldBy(st, b, by :+ dayCol), dayCol, retainDays)
    private[etl] override def rowKeyOf(by: Seq[String]) =
      base.rowKeyOf(by :+ dayCol)
  }
}
