package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end training-corpus preparation funnel — the composition a
  * real data pipeline ships, as one declarative flow (SURVEY §2.E):
  *
  *  1. quality + language gate with exact-dedup canonicals
  *     ([[TextAnalysis.curateCorpus]] semantics)
  *  2. benchmark decontamination — docs sharing any word 5-gram with the
  *     held-out benchmark set are dropped ([[TextAnalysis.decontaminate]])
  *  3. near-dup survivors — MinHash+LSH pairs → connected components →
  *     one canonical per cluster ([[Dedup.nearDupGroups]])
  *  4. deterministic token-budget packing into training shards
  *     ([[TextAnalysis.packSequences]])
  *
  * Scale shape: stages 1-3 each reduce to an id list (the gate passes ids,
  * the contaminated list, the dropped-duplicate list — all tiny relative
  * to the corpus), so the final assembly is semi/anti joins that broadcast
  * their small sides; the corpus body is scanned by the stages themselves,
  * never shuffled whole. Rows-only for the driver (the near-dup stage is
  * hash-dependent); CurationSpec pins every funnel invariant.
  */
object Curation {

  /** @param pairs precomputed near-dup edge list (d1, d2) — e.g. a
    *   materialized [[Dedup.minhashLsh]] output. At 100 TB the pairs are
    *   computed once and every consumer (groups, survivors, this funnel)
    *   reads them; `None` recomputes MinHash+LSH inline, which is the
    *   one-shot convenience form, not the pipeline form.
    * @param classifierWeights when set, the fed-weights linear quality
    *   classifier ([[TextAnalysis.qualityClassifier]] — the CCNet/fastText
    *   model-scoring stage) gates the funnel IN ADDITION to the heuristic
    *   curate gate: only docs the model keeps survive. Like
    *   `fuzzyDecontaminate` it composes as one more broadcast id-list
    *   semi-join and only ever NARROWS the corpus (spec-pinned); the
    *   weights are a fed model artifact, so reruns are deterministic.
    * @param workDir the resumable form — the operational shape of a long
    *   corpus run: each stage's id list (`curated_ids`, `clean_ids`,
    *   `dropped_ids`) is written as parquet under `workDir`, and a rerun
    *   SKIPS every stage whose `_SUCCESS` marker exists, so an interrupted
    *   run resumes at the first missing stage instead of re-paying the
    *   funnel (the LSH+components stage is ~all of its cost). The lists
    *   are tiny next to the corpus; the check goes through the Hadoop
    *   FileSystem API (HDFS/S3/local alike); assembly and packing are
    *   recomputed per call. `None` materializes the stages in the session
    *   ([[Materialize]]).
    */
  def prepareCorpus(s: SparkSession, dir: String,
      numBuckets: Int = 8, budget: Long = 256,
      isBenchmark: org.apache.spark.sql.Column = col("doc_id") % 11 === 0,
      pairs: Option[DataFrame] = None,
      fuzzyDecontaminate: Boolean = false,
      classifierWeights: Option[TextAnalysis.QualityWeights] = None,
      workDir: Option[String] = None): DataFrame = {
    // One stage's id list, materialized once: a session barrier, or under
    // `workDir` a parquet dir that a rerun reads back instead of
    // recomputing. `ids` yields the list and any cache it pins, released
    // once the list is stored. A barrier keeps the list's pre-checkpoint
    // size estimate, so the assembly's semi/anti joins still broadcast.
    def stage(name: String)(ids: => (DataFrame, Option[DataFrame])): DataFrame = {
      def stored(store: DataFrame => DataFrame): DataFrame = {
        val (df, pinned) = ids
        try store(df) finally pinned.foreach(_.unpersist())
      }
      workDir.fold(stored(Materialize(_))) { w =>
        val out = new org.apache.hadoop.fs.Path(w, name)
        val fs = out.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(out, "_SUCCESS")))
          stored { df => df.write.mode("overwrite").parquet(out.toString); df }
        s.read.parquet(out.toString)
      }
    }
    // The three gate stages (quality/language, decontamination, near-dup
    // components) are INDEPENDENT corpus passes that each reduce to a tiny
    // id list — evaluate them eagerly on a small pool (guide §2.6) so the
    // LSH+propagation stage's many small sequential jobs are back-filled
    // by the other stages' scans, instead of the funnel paying the three
    // stages end to end.
    def curatedIds(): DataFrame = stage("curated_ids") {
      val curated0 = TextAnalysis.curateCorpus(s, dir).select(col("doc_id"))
      (classifierWeights.fold(curated0)(w =>
        curated0.join(
          TextAnalysis.qualityClassifier(s, dir, w)
            .filter(col("keep") === 1L).select(col("doc_id")),
          Seq("doc_id"), "left_semi")), None)
    }
    // fuzzy decon COMPLEMENTS the exact gate (paraphrased contamination
    // shares few exact 5-grams but keeps high shingle Jaccard) — so it
    // subtracts from, never replaces, the exact-clean set. An anti-join
    // against the flagged ids (a small frame: contaminated docs only)
    // composes with the funnel's other id-list joins for free.
    def cleanIds(): DataFrame = stage("clean_ids") {
      val clean0 = TextAnalysis.decontaminate(Tables(s, dir).documents, isBenchmark)
        .filter(col("contaminated") === 0L).select(col("doc_id"))
      (if (!fuzzyDecontaminate) clean0
       else clean0.join(
         Dedup.decontaminateFuzzy(s, Tables(s, dir).documents, isBenchmark)
           .select(col("train_id").as("doc_id")),
         Seq("doc_id"), "left_anti"), None)
    }
    // propagateMinLabels returns its labels CACHED and assigns unpersist
    // ownership to the caller (Dedup.scala contract) — so store only the
    // tiny dropped-id list (non-canonical members of dup clusters) and
    // release the full labels cache as soon as it is stored. Labels stay
    // UNSORTED — the only consumer is this filter.
    def droppedIds(): DataFrame = stage("dropped_ids") {
      val (labels, _) = Dedup.propagateMinLabels(
        pairs.getOrElse(Dedup.minhashPairs(s, dir)), sorted = false)
      (labels.filter(col("canonical_id") =!= col("doc_id")).select(col("doc_id")),
        Some(labels))
    }
    // overlap gated on the session's cores (Par.gate): the fixed 3-way
    // overlap was tuned on the 32-core rig and THRASHED small hosts — the
    // r13 8-core scaling run measured this funnel at 86.2 s vs 9.5 s at
    // 32 cores, because each stage itself schedules multi-task jobs and
    // three of those over 8 task slots fight instead of back-filling
    val stages = Par.mapOrdered[() => DataFrame, DataFrame](
      Seq(curatedIds _, cleanIds _, droppedIds _),
      inFlight = Par.gate(s.sparkContext.defaultParallelism, cap = 3))(_())
    val kept = Tables(s, dir).documents
      .join(stages(0), Seq("doc_id"), "left_semi")
      .join(stages(1), Seq("doc_id"), "left_semi")
      .join(stages(2), Seq("doc_id"), "left_anti")
    TextAnalysis.packSequences(kept, numBuckets, budget)
  }

  /** The pipeline form of [[prepareCorpus]] as a runnable query: near-dup
    * pairs are materialized ONCE per (session, sf-dir) and every
    * subsequent call feeds them through the `pairs` parameter — the shape
    * a real 100 TB run has, where the LSH edge list is computed once and
    * read by every consumer. The memo stands in for the parquet the pairs
    * would live in at scale ([[Materialize]] = eager materialization);
    * the first call pays MinHash+LSH, later calls pay only assembly +
    * packing, so the bench's best-of-N min reports the composed cost the
    * one-shot `text_prepare_corpus` entry cannot show.
    */
  def prepareCorpusPipelined(s: SparkSession, dir: String): DataFrame =
    prepareCorpus(s, dir, pairs = Some(materializedPairs(s, dir)))

  // a checkpointed frame is only valid within the SparkContext that built
  // it — SessionMemo keys and reaps by context
  private val pairsMemo = new SessionMemo[String, DataFrame]

  private def materializedPairs(s: SparkSession, dir: String): DataFrame =
    pairsMemo(s, dir)(Materialize(Dedup.minhashPairs(s, dir)))

  // ------------------------------------------------------------ mixture
  /** Deterministic source-mixture sampling — the "data mixing" stage that
    * turns per-source weights into a training corpus (e.g. 100% of a
    * curated source, 10% of a crawl). Membership is decided by arithmetic
    * on doc_id (Knuth multiplicative hash mod 10000 vs a per-source
    * basis-point threshold), NOT rand(): task retries, speculative
    * attempts, and whole re-runs all draw the SAME sample — the property
    * that makes a 100 TB mixture reproducible and resumable — and the
    * filter is a pure map-side projection (no shuffle, no RNG state, scan
    * cost only). Exact integer arithmetic both engines share, hence
    * oracle-checked.
    *
    * @param bps per-source keep rate in basis points (10000 = keep all)
    */
  /** The mixture-membership predicate as a pure Column — shared between
    * the batch sampler and the streaming curation gate (stateless, so it
    * composes into readStream unchanged).
    */
  def mixturePredicate(bps: Map[String, Int], defaultBps: Int): org.apache.spark.sql.Column = {
    require(bps.values.forall(p => p >= 0 && p <= 10000)
      && defaultBps >= 0 && defaultBps <= 10000,
      s"rates are basis points in [0, 10000]: $bps default=$defaultBps")
    // reduce doc_id BEFORE the Knuth multiply: the raw product overflows
    // long for doc_id > 2^63/2654435761 ≈ 3.47e9 — Spark would silently
    // wrap while DuckDB raises, so the oracle-exact claim would break
    // precisely at the 100 TB id range. (1e8-prime) · 2654435761 < 2^63.
    val h = pmod(pmod(col("doc_id"), lit(100000007L)) * lit(2654435761L), lit(10000L))
    val threshold = bps.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultBps).cast("long")) { case (acc, (src, p)) =>
        when(col("source") === src, lit(p.toLong)).otherwise(acc)
      }
    h < threshold
  }

  def mixtureSample(docs: DataFrame, bps: Map[String, Int],
      defaultBps: Int): DataFrame =
    docs.filter(mixturePredicate(bps, defaultBps))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** The demo mixture the gate checks: full src0, three-quarters src1,
    * half src2, a quarter src3, 10% of everything else.
    */
  val DemoMix: Map[String, Int] =
    Map("src0" -> 10000, "src1" -> 7500, "src2" -> 5000, "src3" -> 2500)

  def mixtureSampleDocs(s: SparkSession, dir: String): DataFrame =
    mixtureSample(Tables(s, dir).documents, DemoMix, defaultBps = 1000)

  /** Seeded hash over (seed, key) — the one deterministic randomness
    * primitive both engines share bit-for-bit (md5 of the same UTF-8
    * bytes; Spark auto-casts string→binary, DuckDB hashes the varchar).
    */
  private def seededHashOf(seed: String,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(concat_ws(":", lit(seed), key.cast("string")))

  private def seededHash(seed: String): org.apache.spark.sql.Column =
    seededHashOf(seed, col("doc_id"))

  /** Deterministic global training-order shuffle: every epoch's read
    * order is ORDER BY md5(seed:doc_id) — reshuffled per seed, stable
    * under re-runs, and free of coordinator state (any worker can
    * compute any doc's position). At 100 TB the artifact IS the
    * range-sorted write (one range exchange, the once-per-epoch job;
    * compose with [[graft.ops.Layout.zorderWrite]]'s discipline) — the
    * explicit `pos` column here exists so the gate has a hashable total
    * order; production skips it (the global row_number would serialize
    * into one partition, the sorted files already encode the order).
    */
  def shuffleOrder(s: SparkSession, dir: String,
      seed: String = "epoch0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(s, dir).documents
      .select(col("doc_id"), seededHash(seed).as("h"))
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("pos"), col("doc_id"))
      .orderBy(col("pos"))
  }

  /** Deterministic train/val/test assignment: the first hex byte of
    * md5(seed:doc_id) buckets each doc into 256 cells; [0,13) → test,
    * [13,26) → val (~5.1% each), rest train. Pure map stage — no
    * shuffle, no sampling state, stable across reruns and engines
    * (lexicographic compare of lowercase hex is identical in both), and
    * membership is decidable per-row at read time, which is what lets a
    * 100 TB pipeline filter a split predicate straight down to the scan.
    */
  def splitAssign(s: SparkSession, dir: String,
      seed: String = "split0"): DataFrame = {
    val b = substring(seededHash(seed), 1, 2)
    Tables(s, dir).documents
      .select(col("doc_id"),
        when(b < "0d", "test").when(b < "1a", "val")
          .otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  /** [[splitAssign]] with the eval-contamination hole closed: a plain
    * hash split puts a doc in train and its near-duplicate in test —
    * the classic leakage that inflates every eval on a dup-dense corpus
    * (the published dedup-analysis literature's core finding). Here the
    * split key is each doc's near-dup COMPONENT CANONICAL (the doc
    * itself when it has no near-dup), so a near-dup cluster lands WHOLE
    * in one split by construction — no post-hoc decontamination pass,
    * and membership is still decidable per row given the component
    * table. Docs outside any component get exactly [[splitAssign]]'s
    * assignment (same hash of their own id), so adopting the safe form
    * only ever MOVES near-dup cluster members (spec-pinned, with the
    * no-straddle property over the full LSH pair set).
    *
    * Scale shape: one equi join of the corpus ids against the
    * components table (labeled docs only — dup-cluster-sized, not
    * corpus-sized) + the same pure map-stage bucketing; composes with
    * the persisted component table a living corpus already maintains
    * ([[graft.ops.Dedup.saveComponentLabels]]).
    */
  def splitAssignLeakageSafe(docs: DataFrame, groups: DataFrame,
      seed: String = "split0"): DataFrame = {
    val canon = docs.select(col("doc_id"))
      .join(groups.select(col("doc_id"),
        col("canonical_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canon"))
    val b = substring(seededHashOf(seed, col("canon")), 1, 2)
    canon.select(col("doc_id"),
        when(b < "0d", "test").when(b < "1a", "val")
          .otherwise("train").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Gate form (rows-only — canonicals come from MinHash, engine-internal;
    * the no-straddle and unlabeled-docs-match-splitAssign properties are
    * spec-pinned).
    */
  def splitAssignLeakageSafeDocs(s: SparkSession, dir: String): DataFrame = {
    val groups = Dedup.nearDupGroups(s, dir)
    // materialize (Materialize — GC-owned blocks, not a cache-registry
    // entry repeated gate runs would leak) BEFORE dropping the propagation
    // cache the groups frame carries (the caller-owns-unpersist contract)
    val out = Materialize(
      splitAssignLeakageSafe(Tables(s, dir).documents, groups))
    groups.unpersist()
    out
  }

  /** Weighted sampling WITHOUT replacement, Efraimidis–Spirakis: each doc
    * draws a deterministic uniform u from the seeded hash and competes on
    * key = u^(1/w); the k largest keys are EXACTLY a weight-proportional
    * without-replacement sample (E–S 2006, the one-pass distributed
    * scheme) — unlike [[mixtureSample]]'s per-row Bernoulli rates, the
    * output size is exactly k and heavy docs win proportionally to
    * weight, the "sample 10k docs proportional to length" ask a corpus
    * audit makes. Deterministic: u is dyadic ((hex32 + 0.5)/2^32 — exact
    * in double), so the same seed reproduces the same sample. The gate
    * entry is declared ROWS-ONLY (the KLL discipline): pow is the lone
    * libm call and libm pow is ~1-ulp, not correctly rounded, so a
    * JVM/libm/platform change could flip the doc at the rank-k boundary
    * across engines without any code change — exactness claims belong to
    * folds that move rows, not libm values. The selection itself is
    * pinned exactly in CurationSpec against an in-JVM recompute (same
    * Math.pow on both sides, so the pin is platform-stable).
    *
    * Scale shape: one scan computing keys + one TopK (Spark's
    * TakeOrderedAndProject — per-partition heaps of k, merged on the
    * driver; no global sort, no shuffle of the corpus). k rows of
    * driver memory is the entire coordination cost at 100 TB.
    */
  def weightedSample(docs: DataFrame, k: Int, seed: String = "wsample0",
      weightCol: String = "n_chars"): DataFrame = {
    val u = (conv(substring(seededHash(seed), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    docs.filter(col(weightCol) > 0)
      .select(col("doc_id"), col(weightCol).cast("long").as("weight"),
        pow(u, lit(1.0) / col(weightCol).cast("double")).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  def weightedSampleDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    weightedSample(Tables(s, dir).documents, k = 500)
      .withColumn("sample_rank", row_number()
        .over(Window.orderBy(col("es_key").desc, col("doc_id"))).cast("long"))
      .select(col("sample_rank"), col("doc_id"), col("weight"))
      .orderBy(col("sample_rank"))
  }

  /** Deterministic fixed-size-per-group sample: the n docs per group with
    * the smallest seeded hash — "exactly 200 eval docs per source",
    * balanced by construction where [[mixtureSample]]'s rates only hold
    * in expectation. Re-runs reproduce the same rows; a fresh seed
    * redraws. One hash-partitioned window on the group key (map-side
    * nothing to combine, but rank-truncation keeps only n rows per group
    * out of the sort) — at 100 TB this is the standard per-key TopK
    * shuffle, skew-safe because groups are sources (bounded cardinality,
    * each group's heap is n).
    */
  def groupSample(docs: DataFrame, n: Int, by: String = "source",
      seed: String = "gsample0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(by))
      .orderBy(seededHash(seed), col("doc_id"))
    docs.select(col("doc_id"), col(by),
        row_number().over(w).cast("long").as("draw"))
      .filter(col("draw") <= n)
  }

  def groupSampleDocs(s: SparkSession, dir: String): DataFrame =
    groupSample(Tables(s, dir).documents, n = 100)
      .orderBy(col("source"), col("draw"))

  /** The classifier-gated funnel as a runnable entry: the production
    * shape, where the model filter (not just the heuristic gate) decides
    * what trains. Default fed weights — the same model artifact the
    * text_quality_classifier gate entry scores.
    */
  def prepareCorpusClassified(s: SparkSession, dir: String): DataFrame =
    prepareCorpus(s, dir, pairs = Some(materializedPairs(s, dir)),
      classifierWeights = Some(TextAnalysis.QualityWeights()))

  /** Temperature-scaled mixture weights — the multilingual/multi-source
    * sampling standard (XLM-R, mT5: p_s ∝ (n_s/N)^α): flatten the natural
    * source distribution toward uniform so low-resource sources aren't
    * starved. Per source: natural token share, α-scaled share,
    * `sample_weight` = temp/natural (the per-doc up/down-sampling factor a
    * sampler multiplies into its keep probability) and `epochs` = passes
    * over the source implied by a token budget.
    *
    * α is fixed at 0.5 (the mT5 default) so the shares stay oracle-exact:
    * sqrt is correctly rounded in both engines, and the normalizer folds
    * over sources IN NAME ORDER (sort_array + aggregate here, an ordered
    * list_reduce in DuckDB) so the double sum is bit-identical — the
    * in-order-fold discipline every exact score here uses. One groupBy of
    * the corpus; everything after runs on S source rows.
    */
  def mixtureTemperature(s: SparkSession, dir: String,
      budgetTokens: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val per = Tables(s, dir).documents
      .select(col("source"),
        size(TextAnalysis.words(col("text"))).cast(LongType).as("nw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
    // S source rows from here on — the single-partition window is S rows
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("nat_share", col("n_tokens").cast(DoubleType)
        / sum(col("n_tokens")).over(w).cast(DoubleType))
      .withColumn("sqrtp", sqrt(col("nat_share")))
      .withColumn("z", aggregate(
        array_sort(collect_list(struct(col("source"), col("sqrtp"))).over(w)),
        lit(0.0), (a, x) => a + x.getField("sqrtp")))
      .withColumn("temp_share", col("sqrtp") / col("z"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("nat_share"), col("temp_share"),
        (col("temp_share") / col("nat_share")).as("sample_weight"),
        (col("temp_share") * lit(budgetTokens)
          / col("n_tokens").cast(DoubleType)).as("epochs"))
      .orderBy(col("source"))
  }

  /** Embedding-cluster-balanced sampling — [[mixtureTemperature]]'s
    * α = 0.5 flattening rule applied to LEARNED clusters instead of source
    * labels (the topic-balancing step a pipeline runs when source tags are
    * too coarse to rebalance on: cluster the corpus in embedding space,
    * then sample so over-represented topics shrink toward the temperature
    * share). k-means reuses the ANN tier's trainer (bounded deterministic
    * training sample, corpus assigned ONCE against finished centroids);
    * cluster sizes are k rows; per-cluster keep rates
    * `min(1, temp_share·budget / n_c)` broadcast back; the per-doc keep
    * decision is the same Knuth-multiply hash cut [[mixturePredicate]]
    * uses (deterministic, rerun-stable, no sampling state). Scale cost:
    * one k-means training on the capped sample + one N·k assignment + one
    * corpus scan with a broadcast join — no shuffle of the corpus body
    * beyond the assignment's groupBy. Rows-only at the gate (cluster
    * identities are engine-internal); the spec pins determinism, the
    * subset property, and that output cluster shares are FLATTER than the
    * input's.
    */
  def clusterMixture(s: SparkSession, dir: String, k: Int = 16,
      budgetDocs: Long = 300L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val cents = Similarity.kmeans(e, pmod(col("vec_id"), lit(k)), refineIters = 2)
    val assigned = Similarity.assignCells(e, cents)
      .select(col("vec_id"), col("cell"))
    // k cluster rows from here to the rate table — the single-partition
    // window is k rows, the mixtureTemperature pattern
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .withColumn("sqrtn", sqrt(col("n").cast(DoubleType)))
      .withColumn("temp_share", col("sqrtn") / sum(col("sqrtn")).over(w))
      .select(col("cell"), col("n").as("cluster_n"),
        least(lit(1.0), col("temp_share") * lit(budgetDocs.toDouble)
          / col("n").cast(DoubleType)).as("keep_rate"))
    // ppm hash ring so small rates still resolve (the bps ring of the
    // source mixture quantizes to 1e-4; cluster rates can sit below that)
    val h = pmod(pmod(col("vec_id"), lit(100000007L)) * lit(2654435761L),
      lit(1000000L))
    assigned.join(broadcast(rates), "cell")
      .filter(h < col("keep_rate") * lit(1000000.0))
      .join(Tables(s, dir).documents.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("cell").cast("long").as("cluster"),
        col("source"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_cluster_mixture" -> ((s: SparkSession, dir: String) => clusterMixture(s, dir)),
    "text_mixture_temperature" -> ((s: SparkSession, dir: String) => mixtureTemperature(s, dir)),
    "text_prepare_corpus" -> ((s: SparkSession, dir: String) => prepareCorpus(s, dir)),
    "text_prepare_corpus_pipelined" -> (prepareCorpusPipelined _),
    "text_prepare_corpus_classified" -> (prepareCorpusClassified _),
    "text_mixture_sample" -> (mixtureSampleDocs _),
    "text_weighted_sample" -> (weightedSampleDocs _),
    "text_group_sample" -> (groupSampleDocs _),
    "text_shuffle_order" -> ((s: SparkSession, dir: String) => shuffleOrder(s, dir)),
    "text_split_assign" -> ((s: SparkSession, dir: String) => splitAssign(s, dir)),
    "text_split_leakage_safe" -> (splitAssignLeakageSafeDocs _))

  /** prepare_corpus is rows-only: its near-dup stage depends on
    * engine-internal hashes. The mixture sample is pure integer
    * arithmetic, hence exact. The weighted sample is rows-only by the
    * libm-pow boundary argument on its own scaladoc (exactness pinned
    * in CurationSpec instead).
    */
  val oracles: Map[String, String] = Map(
    "text_mixture_temperature" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT *, CAST(n_tokens AS DOUBLE)
        |    / CAST((SELECT SUM(n_tokens) FROM per) AS DOUBLE) AS nat_share FROM per),
        |x AS (SELECT *, sqrt(nat_share) AS sqrtp FROM t),
        |z AS (SELECT list_reduce(list(sqrtp ORDER BY source), (a, b) -> a + b) AS z FROM x)
        |SELECT source, n_docs, n_tokens, nat_share,
        |  sqrtp / z AS temp_share,
        |  (sqrtp / z) / nat_share AS sample_weight,
        |  (sqrtp / z) * 1000000 / CAST(n_tokens AS DOUBLE) AS epochs
        |FROM x, z ORDER BY source""".stripMargin,
    "text_mixture_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id % 100000007) * 2654435761) % 10000 <
        |  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500
        |    WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,
    "text_group_sample" ->
      """SELECT doc_id, source, draw FROM (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5('gsample0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS draw
        |  FROM documents) WHERE draw <= 100 ORDER BY source, draw""".stripMargin,
    "text_shuffle_order" ->
      """SELECT row_number() OVER (
        |    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |  AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,
    "text_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5('split0:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
        |    THEN 'test'
        |  WHEN substr(md5('split0:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |    THEN 'val'
        |  ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)
}
