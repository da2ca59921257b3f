package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality profiling + deterministic sampling — the audit utilities a
  * pipeline runs before and after every curation step.
  */
object Profile {

  /** One row per profiled column: nulls, exact distincts, min/max (as
    * strings). A single scan computing every aggregate at once (one
    * map-side pass), then reshaped; no per-column jobs.
    */
  def describe(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_value"),
        col(s"${c}__max").as("max_value"))
    }
    wide.select(explode(array(entries: _*)).as("p"))
      .select(col("p.column"), col("p.n_nulls"), col("p.n_distinct"),
        col("p.min_value"), col("p.max_value"))
      .orderBy(col("column"))
  }

  /** Profile of the documents table (oracle-backed). */
  def profileDocuments(s: SparkSession, dir: String): DataFrame =
    describe(Tables(s, dir).documents, Seq("doc_id", "lang", "source", "n_chars"))

  /** Deterministic per-stratum hash sampling: keep a row iff
    * bucket(keyCol) mod 1000 < fraction·1000 for its stratum. Unlike
    * rand()-based sampleBy, reruns/retries/backfills select the SAME
    * rows — the property that keeps a 100 TB pipeline idempotent.
    *
    * @param bucket 0-999 bucket per row; defaults to seeded xxhash64 of
    *   keyCol — the right mixing for arbitrary keys, but engine-internal.
    *   Callers with integer keys can pass the Knuth multiplicative bucket
    *   (as [[sampleDocuments]] does) to make the selection cross-engine
    *   reproducible and therefore oracle-checkable.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
      fractions: Map[String, Double], seed: Int = 42,
      bucket: Option[Column] = None): DataFrame = {
    val b = bucket.getOrElse(pmod(xxhash64(col(keyCol), lit(seed)), lit(1000L)))
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(stratumCol) === stratum && b < (f * 1000).toLong)
    }
    df.filter(keep)
  }

  /** Stratified documents sample: half the English corpus, 20% of the
    * rest, bucketed by exact integer arithmetic on doc_id (mixtureSample's
    * Knuth hash) — deterministic in BOTH engines, hence oracle-exact.
    */
  def sampleDocuments(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables(s, dir).documents, "lang", "doc_id",
      Map("en" -> 0.5, "fr" -> 0.2, "es" -> 0.2, "de" -> 0.2, "zh" -> 0.2),
      // doc_id reduced before the multiply — see Curation.mixturePredicate's
      // overflow note (raw product wraps past doc_id ≈ 3.47e9)
      bucket = Some(pmod(
        pmod(col("doc_id"), lit(100000007L)) * lit(2654435761L), lit(1000L))))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ mergeable sketches
  /** Per-source HLL distinct sketches (DataSketches via Spark's native
    * hll_sketch_agg) — the MERGEABLE audit artifact: each partition/day/
    * source builds its sketch in one scan, the sketch bytes persist as a
    * parquet row, and any later rollup UNIONS sketches in O(#sketches)
    * without rescanning the corpus. At 100 TB this is the difference
    * between "distincts across 90 days" being a 90-day rescan and being
    * a 90-row aggregation.
    */
  def sourceSketches(docs: DataFrame, lgK: Int = 12): DataFrame =
    docs
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(hll_sketch_agg(col("h"), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_rows"))

  def saveSourceSketches(docs: DataFrame, path: String, lgK: Int = 12): Unit =
    sourceSketches(docs, lgK).write.mode("overwrite").parquet(path)

  def loadSourceSketches(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Estimates from a sketch frame: one row per source plus the corpus
    * total from hll_union_agg over the per-source sketch bytes — the
    * rollup never touches documents. Rows-only at the gate (estimates are
    * sketch-dependent); ProfileSpec pins the error envelope against exact
    * distinct counts and the save → load → union round trip.
    */
  def sourceSketchRollup(sketches: DataFrame): DataFrame = {
    val perSource = sketches
      .select(col("source"),
        hll_sketch_estimate(col("sketch")).cast("long").as("est_distinct"),
        col("n_rows"))
    val overall = sketches
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true)))
          .cast("long").as("est_distinct"),
        sum(col("n_rows")).as("n_rows"))
      .select(lit("__ALL__").as("source"), col("est_distinct"), col("n_rows"))
    perSource.unionByName(overall).orderBy(col("source"))
  }

  /** Gate form: build per-source sketches over documents, roll up. */
  def sourceSketchRollup(s: SparkSession, dir: String): DataFrame =
    sourceSketchRollup(sourceSketches(Tables(s, dir).documents))

  // -------------------------------------------------- quantile sketches (KLL)
  /** Per-group KLL quantile sketches (DataSketches KllDoublesSketch, the
    * library Spark's own HLL functions wrap) — [[sourceSketches]]' sibling
    * for NUMERIC columns: the mergeable artifact that answers "p50/p99 of
    * X across 90 days/sources" as an O(#sketches) merge instead of a
    * corpus rescan. Spark has no native mergeable-quantile aggregate
    * (approx_percentile's digest is not exposed as a value), so the scan
    * is one `mapPartitions` pass building a sketch per (partition, group)
    * — the same justified imperative seam as the multimodal decoder —
    * and the partials merge DISTRIBUTED: one shuffle of the few-KB
    * partial sketches keyed by group, one merged sketch per group out the
    * other side. Nothing ever collects to the driver, so `by` may be
    * high-cardinality (per-user latency sketches) without an OOM hazard —
    * the hll_union_agg discipline the HLL sibling gets natively.
    *
    * Output: (group, sketch bytes, n_rows), ordered by group — the
    * [[graft.etl.JsonEtl.quantileState]] artifact with the group cast to
    * string. Save as parquet, reload, [[valueSketchRollup]] any subset
    * without touching the source table.
    */
  def valueSketches(df: DataFrame, by: String, valueCol: String,
      k: Int = 200): DataFrame =
    graft.etl.JsonEtl.quantileState(df, by, valueCol, k)

  def saveValueSketches(df: DataFrame, path: String, by: String,
      valueCol: String, k: Int = 200): Unit =
    valueSketches(df, by, valueCol, k).write.mode("overwrite").parquet(path)

  def loadValueSketches(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Quantile estimates from a sketch frame: one row per group plus the
    * '__ALL__' union row — the rollup reads sketch BYTES, never the
    * source table ([[sourceSketchRollup]]'s contract). Rows-only at the
    * gate (KLL compaction is randomized); ProfileSpec pins a rank-error
    * envelope against exact order statistics and the save → load → union
    * round trip.
    */
  def valueSketchRollup(sketches: DataFrame, by: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      maxGroups: Int = 100000): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
    require(qs.size == 3,
      s"three ranks expected (one column per rank, p<rank> naming): $qs")
    val s2 = sketches.sparkSession
    import s2.implicits._
    val cols = Seq(by, "n_rows") ++ qs.map(q => s"p${math.round(q * 100)}")
    // the rollup is a driver-side REPORT (one output row per group, plus
    // the union row) — collecting it is the point, but only at report
    // scale. A high-cardinality `by` (per-user sketches) must fail loudly
    // here, not OOM the driver mid-collect; building such a sketch store
    // is fine ([[valueSketches]] is fully distributed), rolling ALL of it
    // into one report is the caller error this guard names.
    val taken = sketches.select(col(by).cast("string"), col("sketch"),
        col("n_rows")).take(maxGroups + 1)
    require(taken.length <= maxGroups,
      s"valueSketchRollup: more than $maxGroups groups in '$by' — a rollup " +
        "report over that many rows is driver-unsafe; filter the sketch " +
        "frame to the groups under audit (or raise maxGroups deliberately)")
    val rows = taken
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getLong(2)))
    // day-0 read of an empty store is a valid state, not an error
    if (rows.isEmpty)
      return Seq.empty[(String, Long, Double, Double, Double)].toDF(cols: _*)
    def est(sk: KllDoublesSketch): Seq[Double] =
      qs.map(q => sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE))
    // union at the PARTIALS' accuracy — a hardcoded k here would silently
    // degrade the __ALL__ row below sketches built with a larger k
    val first = KllDoublesSketch.heapify(Memory.wrap(rows.head._2))
    val union = KllDoublesSketch.newHeapInstance(first.getK)
    rows.foreach(r => union.merge(KllDoublesSketch.heapify(Memory.wrap(r._2))))
    val all = ("__ALL__", est(union), rows.map(_._3).sum)
    (rows.map(r =>
        (r._1, est(KllDoublesSketch.heapify(Memory.wrap(r._2))), r._3)).toSeq
        :+ all)
      .sortBy(_._1)
      .map { case (g, e, n) => (g, n, e(0), e(1), e(2)) }
      .toDF(cols: _*)
  }

  /** Gate form: per-source n_chars quantiles over documents (rows-only). */
  def valueSketchRollup(s: SparkSession, dir: String): DataFrame =
    valueSketchRollup(
      valueSketches(Tables(s, dir).documents, "source", "n_chars"), "source")

  /** Population-Stability-Index drift report between two corpus snapshots —
    * the DATA-drift twin of the ANN tier's model-drift monitor (that one
    * asks "do the frozen codebooks still fit the vectors"; this one asks
    * "does today's metadata distribution still look like the baseline's").
    * Buckets are the baseline's [[buckets]]-quantile boundaries (the
    * classic PSI recipe); both snapshots bucket by counting boundaries
    * strictly below the value; shares are Laplace-smoothed (+0.5 per
    * bucket) so empty buckets can't produce ±∞; per-bucket contribution is
    * (p_cur − p_base)·ln(p_cur/p_base) and `psi_total` folds contributions
    * in bucket order (the in-order-fold discipline every exact score here
    * uses — this report is ORACLE-EXACT, unlike sketch-based monitors).
    * The usual reading: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    *
    * Scale shape: the quantile pass is one aggregate over the baseline;
    * bucketing is a scan-local projection against the broadcast one-row
    * boundary frame; the result is `buckets` rows. The gate form splits
    * the corpus by doc_id parity (even = baseline) over `n_chars`; a real
    * deployment feeds yesterday's and today's snapshots. At 100 TB the
    * exact `percentile` aggregate (per-partition value-count maps) is the
    * one piece to swap: feed boundaries from the [[valueSketches]] KLL
    * artifact instead (mergeable, few KB) — the report downstream of the
    * boundaries is unchanged and stays exact GIVEN the boundaries.
    */
  def distributionDrift(s: SparkSession, dir: String,
      valueCol: String = "n_chars", buckets: Int = 10): DataFrame =
    distributionDriftOf(s, Tables(s, dir).documents,
      col("doc_id") % 2 === 0, valueCol, buckets)

  /** [[distributionDrift]] over arbitrary snapshots: rows where [[isBase]]
    * holds are the baseline, the rest the current snapshot.
    */
  def distributionDriftOf(s: SparkSession, docs: DataFrame, isBase: Column,
      valueCol: String = "n_chars", buckets: Int = 10): DataFrame = {
    // boundaries collected once ((buckets−1) doubles — driver-scale model
    // state, the multi-column form's discipline): a referenced bounds
    // FRAME recomputed the buffered percentile aggregate per consumer,
    // and the per-side `psiBucketCounts` scanned the table twice for
    // counts one flagged pass produces together (guide §2.3). The
    // bucketing is the same strictly-below count, as a when-chain over
    // plan literals (codegen) instead of the interpreted HOF fold.
    // A null percentile result (empty baseline) reproduces the former
    // null-bucket behavior: rows bucket to null, the grid join drops
    // them, the report is the all-zeros one.
    val bs = Option(
      psiBounds(docs.filter(isBase), valueCol, buckets).head().getSeq[Double](0))
      .map(_.toSeq)
    val v = col(valueCol).cast("double")
    val bucket = bs match {
      case None => lit(null).cast("long")
      case Some(Nil) => lit(0L)
      case Some(b) =>
        b.map(x => when(v > lit(x), 1L).otherwise(0L)).reduce(_ + _)
    }
    val cnt = docs.filter(isBase.isNotNull)
      .select(isBase.as("is_base"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cur"))
    psiMath(
      s.range(buckets).select(col("id").as("bucket"))
        .join(cnt, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur")),
      "bucket")
      .select(col("bucket"), col("n_base"), col("n_cur"),
        col("p_base"), col("p_cur"), col("contrib"), col("psi_total"))
      .orderBy(col("bucket"))
  }

  /** The baseline's (buckets − 1) quantile boundaries as a one-row array
    * frame — the frozen half of the PSI recipe. One exact `percentile`
    * aggregate over the baseline (at 100 TB: feed boundaries from the
    * [[valueSketches]] KLL artifact instead; everything downstream is
    * unchanged).
    */
  private def psiBounds(base: DataFrame, valueCol: String,
      buckets: Int): DataFrame =
    // ONE array-percentage percentile, not (buckets−1) scalar ones: each
    // scalar Percentile expression buffers the whole column independently
    // in the aggregation, so the split form pays (buckets−1)× the memory
    // and merge work for identical output
    base.agg(expr(s"percentile(CAST($valueCol AS DOUBLE), array(" +
      (1 until buckets).map(i => i.toDouble / buckets).mkString(",") +
      "))").as("bs"))

  /** Bucket a snapshot against the boundary frame: count boundaries
    * strictly below the value — a scan-local projection against the
    * broadcast one-row bounds (the gap_fill shape), then a `buckets`-row
    * groupBy.
    */
  private def psiBucketCounts(side: DataFrame, bounds: DataFrame,
      valueCol: String, as: String): DataFrame = {
    val v = col(valueCol).cast("double")
    side.crossJoin(broadcast(bounds))
      .select(aggregate(col("bs"), lit(0L), (acc, b) =>
        acc + when(v > b, 1L).otherwise(0L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))
  }

  /** The PSI math over a pre-joined (groupCols..., keyCol, n_base, n_cur)
    * frame — shared verbatim by every PSI form here (numeric inline/fed/
    * streaming, categorical, multi-column), so none can diverge on the
    * smoothing or fold order. Smoothing is +0.5 per key with the matching
    * +0.5·K denominator, where K is the key count WITHIN the group (the
    * fixed bucket count for numeric reports; the observed category count
    * for categorical ones — 0.5·K is exact either way); `psi_total` folds
    * contributions in key order within each group. `groupCols` empty =
    * one global report (the window degenerates to the lit(1) partition).
    */
  private def psiMath(joined: DataFrame, keyCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = if (groupCols.isEmpty) Seq(lit(1)) else groupCols.map(col)
    val w = Window.partitionBy(parts: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val halfK = lit(0.5) * count(lit(1)).over(w).cast("double")
    joined
      .withColumn("p_base", (col("n_base") + lit(0.5))
        / (sum(col("n_base")).over(w) + halfK))
      .withColumn("p_cur", (col("n_cur") + lit(0.5))
        / (sum(col("n_cur")).over(w) + halfK))
      .withColumn("contrib",
        (col("p_cur") - col("p_base")) * log(col("p_cur") / col("p_base")))
      .withColumn("psi_total", aggregate(
        array_sort(collect_list(struct(col(keyCol), col("contrib"))).over(w)),
        lit(0.0), (a, x) => a + x.getField("contrib")))
  }

  /** The numeric PSI report over two bucket-count frames ([[psiMath]] with
    * the all-buckets grid joined in so empty buckets surface as zeros).
    */
  private def psiReport(s: SparkSession, baseCounts: DataFrame,
      curCounts: DataFrame, buckets: Int): DataFrame =
    psiMath(
      s.range(buckets).select(col("id").as("bucket"))
        .join(baseCounts, Seq("bucket"), "left")
        .join(curCounts, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur")),
      "bucket")
      .select(col("bucket"), col("n_base"), col("n_cur"),
        col("p_base"), col("p_cur"), col("contrib"), col("psi_total"))
      .orderBy(col("bucket"))

  /** CATEGORICAL PSI — distribution drift of a discrete column (event-type
    * mix, source mix, language mix), the drift question quantile buckets
    * can't ask. Buckets are the categories themselves: the union of
    * categories observed in EITHER snapshot (a category that vanished or
    * appeared is precisely the drift signal, so neither side's set can
    * define the domain alone), Laplace-smoothed like the numeric form so
    * an appearing/vanishing category contributes a finite term. Shares
    * [[psiMath]] verbatim; ORACLE-EXACT (counts are exact, the smoothing
    * and fold replay identically in DuckDB).
    *
    * Scale shape: two map-side-combined groupBys over the category column
    * (pushed-down, column-pruned) + one K-row full-outer join — the
    * report is K rows for K observed categories. A high-cardinality
    * "category" (user ids) is a caller error the numeric form serves
    * better; real category columns are dimension-bounded.
    */
  def categoricalDriftOf(docs: DataFrame, isBase: Column,
      catCol: String): DataFrame = {
    // ONE scan counts both sides (the former per-side groupBys scanned the
    // table twice and met in a full-outer join; the flag split produces
    // the same counts map-side — guide §2.3). The isNotNull guard keeps
    // the category DOMAIN identical to the two-filter form: a row where
    // isBase evaluates null belonged to NEITHER side, so it must not
    // surface its category as an all-zeros report row.
    psiMath(
      docs.filter(isBase.isNotNull)
        .select(isBase.as("is_base"),
          col(catCol).cast("string").as("category"))
        .groupBy(col("category"))
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
          sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_cur")),
      "category")
      .select(col("category"), col("n_base"), col("n_cur"),
        col("p_base"), col("p_cur"), col("contrib"), col("psi_total"))
      .orderBy(col("category"))
  }

  /** Gate form: source-mix drift across the doc_id-parity split. */
  def categoricalDrift(s: SparkSession, dir: String): DataFrame =
    categoricalDriftOf(Tables(s, dir).documents,
      col("doc_id") % 2 === 0, "source")

  /** MULTI-COLUMN PSI — monitor a declared list of numeric columns in one
    * config, the "watch these five metrics nightly" contract: one
    * percentile aggregate computes EVERY column's baseline boundaries in
    * a single pass over the baseline, one scan per snapshot buckets all
    * columns at once (each row explodes into |valueCols| (column, bucket)
    * pairs — bytes scale with the monitored columns, never with text),
    * and [[psiMath]] runs per column via its group partition. Output =
    * the single-column report with a leading `value_col`, one psi_total
    * per column. ORACLE-EXACT per column by the same argument as the
    * single-column form.
    */
  def multiColumnDriftOf(s: SparkSession, docs: DataFrame, isBase: Column,
      valueCols: Seq[String], buckets: Int = 10): DataFrame = {
    require(valueCols.nonEmpty, "multiColumnDriftOf needs value columns")
    import s.implicits._
    // all columns' boundaries in ONE aggregate over the baseline (one
    // array-percentage percentile per column — see psiBounds), collected
    // once: (|cols|·(buckets−1)) doubles are driver-scale model state by
    // definition (the centroids/rotation discipline), and plan-literal
    // boundaries mean NEITHER snapshot scan re-runs the buffered
    // percentile agg (a referenced bounds frame would recompute per
    // consumer) — bucketing becomes a pure scan-local projection
    val probs = (1 until buckets).map(i => i.toDouble / buckets)
    val boundExprs = valueCols.map(c =>
      expr(s"percentile(CAST($c AS DOUBLE), array(${probs.mkString(",")}))")
        .as(s"bs_$c"))
    val boundsRow = docs.filter(isBase)
      .agg(boundExprs.head, boundExprs.tail: _*).head()
    val boundsOf: Map[String, Seq[Double]] = valueCols.zipWithIndex.map {
      case (c, i) => c -> boundsRow.getSeq[Double](i).toSeq
    }.toMap
    // bucket = count of boundaries strictly below the value, as a chain of
    // when-sums over the (buckets−1) PLAN-LITERAL boundaries — the exact
    // arithmetic of the `aggregate(bounds, acc + when(v > b, ...))` HOF
    // fold it replaces, but fully inside whole-stage codegen (HOF lambdas
    // evaluate as per-element interpreted expression walks; at 10 buckets
    // × 2 columns that was ~18 tree walks per row of the r13 profile's two
    // bucketing scans). BOTH snapshots bucket in ONE scan: rows carry an
    // is_base flag and the aggregate splits the counts conditionally —
    // the former per-side `counts()` scanned the table twice for counts
    // the one pass produces together (guide §2.3: aggregate before you
    // shuffle; one pass, map-side combined).
    def bucketOf(c: String): Column =
      if (boundsOf(c).isEmpty) lit(0L) // buckets = 1: everything bucket 0
      else boundsOf(c)
        .map(b => when(col(c).cast("double") > lit(b), 1L).otherwise(0L))
        .reduce(_ + _)
    val cnt = docs
      .select(isBase.as("is_base"), explode(array(valueCols.map { c =>
        struct(lit(c).as("value_col"), bucketOf(c).as("bucket"))
      }: _*)).as("e"))
      .groupBy(col("e.value_col").as("value_col"), col("e.bucket").as("bucket"))
      .agg(sum(when(col("is_base") === true, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_base") === false, 1L).otherwise(0L)).as("n_cur"))
    // the (value_col × bucket) grid is a PARAMETER product — both sides
    // are known on the driver, so build it as a local frame instead of a
    // crossJoin (the former BNLJ site the round-13 whitelist tightening
    // removed; the later joins are all equi)
    val grid = valueCols.flatMap(c => (0L until buckets.toLong).map(b =>
      (c, b))).toDF("value_col", "bucket")
    psiMath(
      grid.join(cnt, Seq("value_col", "bucket"), "left")
        .select(col("value_col"), col("bucket"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur")),
      "bucket", Seq("value_col"))
      .select(col("value_col"), col("bucket"), col("n_base"), col("n_cur"),
        col("p_base"), col("p_cur"), col("contrib"), col("psi_total"))
      .orderBy(col("value_col"), col("bucket"))
  }

  /** Gate form: quantity + extended price monitored in one config over
    * the l_orderkey-parity split.
    */
  def multiColumnDrift(s: SparkSession, dir: String): DataFrame =
    multiColumnDriftOf(s, Tables(s, dir).lineitem,
      col("l_orderkey") % 2 === 0, Seq("l_extendedprice", "l_quantity"))

  /** Persist the PSI baseline as a self-describing artifact: boundary
    * array, baseline bucket counts, and a one-row meta table naming the
    * value column and bucket count — so a later monitor (batch or the
    * streaming [[graft.streaming.Streams.psiDriftSink]]) cannot bucket a
    * different column or geometry against it (the `_ann_spec`/`_geometry`
    * self-description discipline). The artifact is a few KB at any corpus
    * size; recording it is one percentile aggregate + one bucketing scan
    * over the baseline snapshot, paid once per baseline release.
    */
  def savePsiBaseline(df: DataFrame, path: String,
      valueCol: String = "n_chars", buckets: Int = 10,
      categorical: Boolean = false): Unit = {
    val s = df.sparkSession
    import s.implicits._
    val kind = if (categorical) "categorical" else "numeric"
    // all tables land in a staging dir and promote in one rename
    // (the exportShards discipline): a crash mid-restamp, or a monitor
    // reading mid-rewrite, must never see new-generation bounds paired
    // with old-generation counts — that mixed baseline would skew every
    // later PSI silently (false trips or masked drift)
    def writeAll(dir: String): Unit = {
      if (categorical) {
        // the categorical baseline needs no bounds — the categories ARE
        // the buckets; the artifact stores the baseline's category counts
        df.groupBy(col(valueCol).cast("string").as("category"))
          .agg(count(lit(1)).as("n_base"))
          .write.mode("overwrite").parquet(s"$dir/base_counts.parquet")
      } else {
        val bounds = psiBounds(df, valueCol, buckets)
        bounds.write.mode("overwrite").parquet(s"$dir/bounds.parquet")
        psiBucketCounts(df, bounds, valueCol, "n_base")
          .write.mode("overwrite").parquet(s"$dir/base_counts.parquet")
      }
      Seq((valueCol, buckets, kind)).toDF("value_col", "buckets", "kind")
        .write.mode("overwrite").parquet(s"$dir/meta.parquet")
    }
    graft.ops.Layout.writeStaged(s, path)(writeAll)
  }

  /** PSI of a current snapshot against a [[savePsiBaseline]] artifact —
    * output schema (and, for the same snapshots, values) identical to
    * [[distributionDriftOf]]; the baseline side costs a few-KB read
    * instead of a rescan of the baseline corpus.
    */
  def psiAgainstBaseline(s: SparkSession, path: String,
      current: DataFrame): DataFrame = {
    val metaDf = s.read.parquet(s"$path/meta.parquet")
    val meta = metaDf.head()
    val valueCol = meta.getAs[String]("value_col")
    val buckets = meta.getAs[Int]("buckets")
    // pre-`kind` artifacts are numeric by construction
    val kind = if (metaDf.columns.contains("kind"))
      meta.getAs[String]("kind") else "numeric"
    if (kind == "categorical") {
      // the key domain is artifact categories ∪ current categories —
      // exactly [[categoricalDriftOf]]'s union rule, so round-tripping a
      // baseline through the artifact moves no bits (spec-pinned)
      val curCounts = current
        .groupBy(col(valueCol).cast("string").as("category"))
        .agg(count(lit(1)).as("n_cur"))
      psiMath(
        s.read.parquet(s"$path/base_counts.parquet")
          .join(curCounts, Seq("category"), "full_outer")
          .select(col("category"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur")),
        "category")
        .select(col("category"), col("n_base"), col("n_cur"),
          col("p_base"), col("p_cur"), col("contrib"), col("psi_total"))
        .orderBy(col("category"))
    } else psiReport(s,
      s.read.parquet(s"$path/base_counts.parquet"),
      psiBucketCounts(current,
        s.read.parquet(s"$path/bounds.parquet"), valueCol, "n_cur"),
      buckets)
  }

  // one baseline artifact per (session, corpus): the SessionMemo discipline —
  // the gate/bench entry times what steady-state monitoring costs (bucket
  // the current snapshot, join two 10-row frames), not the baseline build
  private val psiBaseMemo = new SessionMemo[String, String]

  /** [[distributionDrift]] served from the persisted baseline — the
    * deployment form (baseline stamped at release, every later snapshot
    * compares against the artifact). ORACLE-EXACT with the same oracle as
    * the inline entry: the artifact round-trip must not move a single
    * bit of the report.
    */
  def distributionDriftFed(s: SparkSession, dir: String): DataFrame = {
    val path = psiBaseMemo(s, dir) {
      val p = SessionMemo.scratchPath(s, "graft_psi_base", dir)
      savePsiBaseline(Tables(s, dir).documents.filter(col("doc_id") % 2 === 0), p)
      p
    }
    psiAgainstBaseline(s, path,
      Tables(s, dir).documents.filter(col("doc_id") % 2 =!= 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_distribution_drift" ->
      ((s: SparkSession, dir: String) => distributionDrift(s, dir)),
    "profile_drift_fed" -> (distributionDriftFed _),
    "profile_categorical_drift" -> (categoricalDrift _),
    "profile_drift_multi" -> (multiColumnDrift _),
    "q_profile_documents" -> (profileDocuments _),
    "text_stratified_sample" -> (sampleDocuments _),
    "text_source_sketches" ->
      ((s: SparkSession, dir: String) => sourceSketchRollup(s, dir)),
    "profile_value_sketches" ->
      ((s: SparkSession, dir: String) => valueSketchRollup(s, dir)))

  val oracles: Map[String, String] = Map(
    // the fed entry must be bit-identical to the inline one (the artifact
    // round-trip moves no values), so the two share one oracle string
    "profile_drift_fed" -> psiOracleSql,
    "profile_distribution_drift" -> psiOracleSql,
    "profile_categorical_drift" ->
      """WITH cnt AS (SELECT CAST(source AS VARCHAR) AS category,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |    CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM documents GROUP BY 1),
        |k AS (SELECT 0.5 * COUNT(*) AS hk,
        |    CAST(SUM(n_base) AS BIGINT) AS sb,
        |    CAST(SUM(n_cur) AS BIGINT) AS sc FROM cnt),
        |sh AS (SELECT category, n_base, n_cur,
        |    (n_base + 0.5) / (sb + hk) AS p_base,
        |    (n_cur + 0.5) / (sc + hk) AS p_cur
        |  FROM cnt, k),
        |c AS (SELECT *, (p_cur - p_base) * ln(p_cur / p_base) AS contrib FROM sh),
        |t AS (SELECT list_reduce(list(contrib ORDER BY category), (a, b) -> a + b) AS psi FROM c)
        |SELECT category, n_base, n_cur, p_base, p_cur, contrib, psi AS psi_total
        |FROM c, t ORDER BY category""".stripMargin,
    "profile_drift_multi" ->
      Seq("l_extendedprice", "l_quantity").map(psiLineitemColumnOracle)
        .map(q => s"SELECT * FROM (\n$q\n)")
        .mkString("", "\nUNION ALL\n", "\nORDER BY value_col, bucket"),
    "q_profile_documents" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column", COUNT(*) FILTER (doc_id IS NULL) AS n_nulls,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS min_value, CAST(MAX(doc_id) AS VARCHAR) AS max_value
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*) FILTER (lang IS NULL), COUNT(DISTINCT lang),
        |    MIN(lang), MAX(lang) FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*) FILTER (source IS NULL), COUNT(DISTINCT source),
        |    MIN(source), MAX(source) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*) FILTER (n_chars IS NULL), COUNT(DISTINCT n_chars),
        |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
        |) ORDER BY "column"""".stripMargin,
    "text_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 100000007) * 2654435761) % 1000 <
        |  CASE lang WHEN 'en' THEN 500 WHEN 'fr' THEN 200 WHEN 'es' THEN 200
        |    WHEN 'de' THEN 200 WHEN 'zh' THEN 200 ELSE -1 END
        |ORDER BY doc_id""".stripMargin)

  /** One lineitem column's PSI report (l_orderkey-parity split) with a
    * `value_col` label — the multi-column oracle unions one per column.
    * Same math as [[psiOracleSql]], parameterized by column.
    */
  private def psiLineitemColumnOracle(valueCol: String): String = {
    val qs = (1 until 10).map(i => s"quantile_cont(v, 0.$i)").mkString(", ")
    s"""WITH d AS (SELECT l_orderkey AS rid, CAST($valueCol AS DOUBLE) AS v FROM lineitem),
       |bounds AS MATERIALIZED (SELECT [$qs] AS bs FROM d WHERE rid % 2 = 0),
       |bkt AS (SELECT rid % 2 = 0 AS is_base,
       |    CAST(len(list_filter(bounds.bs, b -> v > b)) AS BIGINT) AS bucket
       |  FROM d, bounds),
       |cnt AS (SELECT bucket,
       |    SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS nb,
       |    SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS nc
       |  FROM bkt GROUP BY bucket),
       |allb AS (SELECT CAST(r.range AS BIGINT) AS bucket,
       |    CAST(COALESCE(nb, 0) AS BIGINT) AS n_base,
       |    CAST(COALESCE(nc, 0) AS BIGINT) AS n_cur
       |  FROM range(10) r LEFT JOIN cnt ON r.range = cnt.bucket),
       |sh AS (SELECT *,
       |    (n_base + 0.5) / ((SELECT SUM(n_base) FROM allb) + 5.0) AS p_base,
       |    (n_cur + 0.5) / ((SELECT SUM(n_cur) FROM allb) + 5.0) AS p_cur
       |  FROM allb),
       |c AS (SELECT *, (p_cur - p_base) * ln(p_cur / p_base) AS contrib FROM sh),
       |t AS (SELECT list_reduce(list(contrib ORDER BY bucket), (a, b) -> a + b) AS psi FROM c)
       |SELECT '$valueCol' AS value_col, bucket, n_base, n_cur, p_base, p_cur, contrib, psi AS psi_total
       |FROM c, t""".stripMargin
  }

  private lazy val psiOracleSql: String = {
    val qs = (1 until 10).map(i => s"quantile_cont(v, 0.$i)").mkString(", ")
      // MATERIALIZED: DuckDB would otherwise inline the aggregate CTE into
      // what it binds as a lateral join (the lambda references d.v) and
      // refuse with "LATERAL join cannot contain aggregates"
      s"""WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents),
         |bounds AS MATERIALIZED (SELECT [$qs] AS bs FROM d WHERE doc_id % 2 = 0),
         |bkt AS (SELECT doc_id % 2 = 0 AS is_base,
         |    CAST(len(list_filter(bounds.bs, b -> v > b)) AS BIGINT) AS bucket
         |  FROM d, bounds),
         |cnt AS (SELECT bucket,
         |    SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS nb,
         |    SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS nc
         |  FROM bkt GROUP BY bucket),
         |allb AS (SELECT CAST(r.range AS BIGINT) AS bucket,
         |    CAST(COALESCE(nb, 0) AS BIGINT) AS n_base,
         |    CAST(COALESCE(nc, 0) AS BIGINT) AS n_cur
         |  FROM range(10) r LEFT JOIN cnt ON r.range = cnt.bucket),
         |sh AS (SELECT *,
         |    (n_base + 0.5) / ((SELECT SUM(n_base) FROM allb) + 5.0) AS p_base,
         |    (n_cur + 0.5) / ((SELECT SUM(n_cur) FROM allb) + 5.0) AS p_cur
         |  FROM allb),
         |c AS (SELECT *, (p_cur - p_base) * ln(p_cur / p_base) AS contrib FROM sh),
         |t AS (SELECT list_reduce(list(contrib ORDER BY bucket), (a, b) -> a + b) AS psi FROM c)
         |SELECT bucket, n_base, n_cur, p_base, p_cur, contrib, psi AS psi_total
         |FROM c, t ORDER BY bucket""".stripMargin
  }
}
