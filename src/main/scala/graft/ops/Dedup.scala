package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import graft.functions.{cosine_sim, hashed_ngrams, minhash_sig, simhash_chunks}

/** Deduplication for training-data pipelines (SURVEY §2.C) over the
  * `documents` and `embeddings` tables.
  *
  * Two tiers, by design:
  *  - **ground truth** (oracle-checked): exact/normalized hash dedup and
  *    all-pairs shingle Jaccard / embedding cosine. The all-pairs forms are
  *    O(N²) and exist to verify the approximate tier at test SF — at 100 TB
  *    you never run them.
  *  - **scale tier** (rows-only + spec-asserted recall): MinHash+LSH banding
  *    and SimHash chunk-joins. Work is proportional to Σ|bucket|², not N²;
  *    buckets are hash-distributed so the candidate join shuffles evenly.
  *
  * Everything is HOF/codegen expressions — no UDFs. All arithmetic stays
  * under 2^62 so Spark's ANSI mode (4.x default) never overflows.
  */
object Dedup {

  /** Explicit partition count for CPU-bound stages. The byte volume here is
    * tiny but the per-row work is heavy (interpreted HOF pipelines), so
    * AQE's size-based coalescing would fold the shuffle back to one
    * partition and serialize it; an explicit count is honored by AQE.
    */
  private def spread(s: SparkSession): Int = s.sparkContext.defaultParallelism

  /** Whitespace-collapse + lowercase + trim normalization. */
  private def norm(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  import TextAnalysis.{bigrams, words}

  /** doc_id → (hash, canonical doc, group size) under a key expression. */
  private def hashDedup(df: DataFrame, key: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy(col("text_md5"))
    df.select(col("doc_id"), key.as("text_md5"))
      .withColumn("canonical_id", min(col("doc_id")).over(byHash))
      .withColumn("group_size", count(lit(1)).over(byHash))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ exact
  /** Exact dedup: md5 of the raw text, canonical = min doc_id per group.
    * At 100 TB: one shuffle on the hash (and the hash, not the text, is the
    * shuffle key — rows carry ~32 bytes extra, not the document body).
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    hashDedup(Tables(s, dir).documents, md5(col("text")))

  /** Dedup after whitespace/case normalization — catches trivially-mutated
    * copies that exact hashing misses.
    */
  def normalized(s: SparkSession, dir: String): DataFrame =
    hashDedup(Tables(s, dir).documents, md5(norm(col("text"))))

  // ------------------------------------------------------------ jaccard (truth)
  /** All-pairs word-bigram Jaccard, top-50 most-similar pairs. Ground truth
    * for the MinHash tier; O(N²) in the worst case so test-SF only (the
    * shingle self-join is the quadratic step). jaccard = |∩| / (n1+n2-|∩|)
    * as a single int/int double division — bit-identical in DuckDB.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    shinglePairCounts(s, dir)
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter").cast(DoubleType) /
          (col("n1") + col("n2") - col("inter")).cast(DoubleType)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(50)

  /** Asymmetric CONTAINMENT, the quantity Jaccard is blind to: a short doc
    * quoted whole inside a long one has tiny Jaccard (the union is the big
    * doc) but containment 1.0 — the boilerplate/quotation duplication a
    * curation pass actually wants to catch (Broder's "containment", 1997).
    * Same ground-truth tier and machinery as [[ngramJaccard]] — the pair
    * stats are shared code — scoring max(|∩|/|A|, |∩|/|B|) instead. Same
    * int/int double division, bit-identical in DuckDB; at 100 TB the
    * MinHash-LSH tier generates the candidates and this scoring verifies.
    */
  def containment(s: SparkSession, dir: String): DataFrame =
    shinglePairCounts(s, dir)
      .select(col("d1"), col("d2"), col("inter"),
        greatest(
          col("inter").cast(DoubleType) / col("n1").cast(DoubleType),
          col("inter").cast(DoubleType) / col("n2").cast(DoubleType))
          .as("containment"))
      .orderBy(col("containment").desc, col("d1"), col("d2"))
      .limit(50)

  /** Shared all-pairs shingle statistics: (d1, d2, |∩|, |A|, |B|) for every
    * doc pair with at least one common bigram shingle — the one quadratic
    * step both exact-similarity scorers consume.
    */
  private def shinglePairCounts(s: SparkSession, dir: String): DataFrame = {
    // repartition BEFORE shingling: a small parquet lands as one partition
    // — spread it first
    val docs = Tables(s, dir).documents
      .repartition(spread(s), col("doc_id"))
      .select(col("doc_id"), bigrams(col("text"), distinct = true).as("sh"))
      // barrier above the shingle projection: the two consumers below share
      // one ReusedExchange instead of re-shingling per branch
      .repartition(spread(s), col("doc_id"))
    // _outer so no size(sh) > 0 filter is inferred and pushed to the scan
    // with the shingle chain inlined; the null row an empty doc produces
    // can never equi-join (null keys don't match), so output is identical
    val ex = docs.select(col("doc_id"), explode_outer(col("sh")).as("sh"))
    val n = docs.select(col("doc_id"), size(col("sh")).cast(LongType).as("n"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(n.as("n1"), col("d1") === col("n1.doc_id"))
      .join(n.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("n1.n").as("n1"), col("n2.n").as("n2"))
  }

  // ------------------------------------------------------------ minhash+LSH
  private val P = 4294967311L // prime > 2^32; a*h+b < 2^40 → ANSI-safe
  /** Default geometry: 64 hashes in 16 bands × 4 rows pins the LSH s-curve
    * threshold ≈ (1/16)^(1/4) ≈ 0.5 — right for the 0.7 verify cut. Both
    * are runtime parameters (more bands → higher recall / more candidates;
    * more rows per band → sharper cut) so 100 TB retuning is a call-site
    * argument, not a recompile. DedupSpec pins recall at two geometries.
    */
  val DefaultNumHashes = 64
  val DefaultBands = 16

  /** The scale-tier near-dup detector: 64 MinHash permutations → 16-band
    * LSH bucketing → candidate pairs → exact-Jaccard verification of
    * candidates only. The only joins are hash-equi on (band, signature
    * slice), so at 100 TB work is Σ|bucket|² with well-distributed buckets;
    * the verification join touches candidates, not all pairs.
    *
    * Rows-only for the driver (signatures are engine-internal); DedupSpec
    * asserts recall vs [[ngramJaccard]] ground truth.
    */
  def minhashLsh(s: SparkSession, dir: String,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands): DataFrame =
    // the (d1, d2) sort is the GATE's output contract; internal consumers
    // (components, survivors, the curation funnel) take the unsorted pair
    // set — a global range-sort of the pair set ahead of an aggregate
    // that re-shuffles it anyway is pure waste at any scale
    minhashPairsOf(s, Tables(s, dir).documents, numHashes, bands, tau = 0.7)
      .orderBy(col("d1"), col("d2"))

  /** [[minhashLsh]] without the gate's (d1, d2) output sort — the form
    * every composing consumer (components, the curation funnel's pairs
    * memo) reads: they aggregate the pair set immediately, so the sort
    * would be discarded work.
    */
  private[graft] def minhashPairs(s: SparkSession, dir: String,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands): DataFrame =
    minhashPairsOf(s, Tables(s, dir).documents, numHashes, bands, tau = 0.7)

  /** [[minhashLsh]]'s body over an arbitrary (doc_id, text) frame with the
    * verify threshold as a parameter — the corpus-reading gate entry above
    * and [[tuneBands]]'s probe-sample evaluations share this verbatim, so
    * the geometry the tuner measures is exactly the geometry the detector
    * runs.
    */
  private[graft] def minhashPairsOf(s: SparkSession, docs0: DataFrame,
      numHashes: Int, bands: Int, tau: Double): DataFrame =
    minhashPairsFromHs(s, hashedShingleDocs(s, docs0), numHashes, bands, tau)

  /** The (doc_id, hs) preparation both similarity tiers build on — ONE
    * definition so the tuner's exact-truth tier and the LSH tier can never
    * shingle differently (the found ⊆ truth invariant the tuner's recall
    * arithmetic rests on is a property of shared prep, not of review).
    *
    * Repartition BEFORE the expensive work: the scan is one partition (one
    * small file), and shingling is an interpreted HOF pipeline — shuffle
    * the raw rows first so it runs across all cores. At 100 TB the scan
    * arrives pre-split, but declaring the doc_id partitioning up front is
    * still what lets every later stage reuse it.
    * The one exchange here spreads the interpreted shingle pipeline across
    * cores (a small parquet arrives as one partition). Shingle-once across
    * the downstream consumers is [[minhashPairsFromHs]]'s localCheckpoint —
    * the former second repartition ("barrier above the projection") never
    * provided it: CollapseRepartition folds same-key back-to-back
    * repartitions and the broadcast join sides each re-derived the chain
    * (r13 plan audit: four scan→shingle subtrees, zero ReusedExchange).
    * Docs carry only hashed shingles (hs ∈ [0, P)) from here on: the
    * exact-verify intersects long arrays instead of strings (~5× cheaper
    * per candidate, and the dominant cost IS verification when real
    * duplication is dense), at the price of a ~|sh|/P collision error in
    * the reported jaccard — negligible and spec-checked.
    * The non-empty-shingles guard is a WORD-COUNT filter on the raw text,
    * not size(hs) > 0: a filter above the hs projection gets pushed to the
    * scan with the whole shingle+minhash chain inlined — recomputing it
    * per row, interpreted. ≥2 words ⟺ ≥1 shingle, and split+size is
    * codegen'd and cheap at the scan.
    * Shingle+hash is ONE codegen'd kernel (HashedNgrams) — the HOF chain
    * it replaces (zip_with → transform(xxhash64) → array_distinct)
    * evaluated interpreted per element (measured 51.0 → 42.5 s end-to-end
    * at the 100× dup-dense probe, where verification dominates); values
    * are bit-identical (same space-joined grams, same xxhash64 seed, same
    * pmod), FunctionsSpec pins the equality. The kernel returns the set
    * SORTED, which is what lets verification merge instead of hashing.
    */
  private def hashedShingleDocs(s: SparkSession, docs0: DataFrame): DataFrame =
    docs0
      .filter(size(words(col("text"))) >= 2)
      .repartition(spread(s), col("doc_id"))
      .select(col("doc_id"),
        hashed_ngrams(words(col("text")), 2, P, distinct = true).as("hs"))

  /** [[minhashPairsOf]] from an already-prepared (doc_id, hs) frame —
    * [[tuneBands]] persists ONE prepared probe sample and drives every
    * ladder rung off it, so the tuner never re-scans or re-shingles the
    * input per rung.
    */
  private def minhashPairsFromHs(s: SparkSession, docs: DataFrame,
      numHashes: Int, bands: Int, tau: Double): DataFrame =
    minhashPairsFromSigned(s, signedShingleDocs(docs, numHashes),
      numHashes, bands, tau)

  /** ONE eager materialization of the prepared frame (hs + signature).
    * The repartition-barrier formulation this replaces assumed the three
    * downstream consumers (banding + the two verify-join sides) would hit
    * one ReusedExchange — but CollapseRepartition folds the back-to-back
    * same-key repartitions and the planner broadcasts the small join
    * sides, so the r13 plan audit found FOUR independent
    * scan→shingle→signature subtrees and no ReusedExchange: the
    * interpreted-adjacent HashedNgrams/MinHashSig kernels (the operator's
    * dominant CPU) ran once per subtree at EVERY scale. localCheckpoint
    * is the barrier the optimizer can't fold: shingles and signatures
    * compute exactly once, every consumer reads blocks, and the blocks
    * are ContextCleaner-reaped when the frame is GC'd. The stored bytes
    * are the same bytes the intended shared exchange held. (Signature
    * via the codegen'd MinHashSig — the HOF formulation, 64 array_min
    * lambdas, evaluates interpreted and measured ~1000× slower.)
    *
    * The signature depends on numHashes alone, NEVER on the banding — so
    * this frame is BAND-INVARIANT and [[tuneBands]] materializes it once
    * for its whole geometry ladder (the r13 formulation re-signed and
    * re-checkpointed an identical frame per rung: 4 materialization jobs
    * where one suffices, and at a contended driver each rung's
    * checkpoint+joins inflated — 3.6→10.9 s in the r13 driver bench).
    *
    * Executor-loss caveat (guide §5): localCheckpoint blocks are
    * executor-local and non-replicated, and the lineage is truncated — on
    * a cluster, losing an executor mid-query fails the job with no
    * recompute path (acceptable for this intra-query materialization:
    * the alternative is 3-4× recompute of the dominant kernel per query;
    * a failed query re-runs from the parquet input). Deployments that
    * prefer recoverable blocks can set a reliable checkpoint dir
    * (`sparkContext.setCheckpointDir`) and flip
    * `spark.graft.reliableCheckpoint=true`, which routes these
    * materializations through `checkpoint(eager=true)` instead.
    */
  private[graft] def signedShingleDocs(docs: DataFrame, numHashes: Int): DataFrame =
    graft.ops.Materialize(docs.withColumn("sig", minhash_sig(col("hs"), numHashes, P)))

  /** [[minhashPairsFromHs]] from the already-signed, already-materialized
    * (doc_id, hs, sig) frame — the band-dependent tail of the operator,
    * the only part [[tuneBands]] re-runs per ladder rung.
    */
  private def minhashPairsFromSigned(s: SparkSession, prepared: DataFrame,
      numHashes: Int, bands: Int, tau: Double): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val banded = bandBuckets(
      prepared.select(col("doc_id"), col("sig")), numHashes, bands)
    // Candidate copies (a near-identical pair matches in ~all bands) are
    // collapsed by an id-only distinct(): 16 bytes/row through the
    // exchange. The first-shared-band trick that won for simhash (4
    // chunks → ≤6 extra compares) LOSES here: 16 bands put an O(bands²)
    // predicate on a candidate stream ~5× larger, measured >16 min vs
    // 61 s at the 100× probe — the exchange is cheaper than the compares.
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // exact-verify candidates only: merge-based jaccard over the SORTED
    // hashed shingle sets (JaccardHashed — zero per-pair allocation). The
    // array_intersect + array_union formulation this replaces built a hash
    // set and materialized an intersection array per candidate pair just
    // to take sizes; verification is the dominant stage when duplication
    // is dense, so this is where the operator's wall actually goes.
    cand
      .join(prepared.select(col("doc_id").as("d1"), col("hs").as("s1")), "d1")
      .join(prepared.select(col("doc_id").as("d2"), col("hs").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.jaccard_hashed(col("s1"), col("s2")).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** (doc_id, band, bucket) from a (doc_id, sig) frame — the LSH bucket
    * derivation, shared verbatim between [[minhashLsh]] (inline sig) and
    * [[minhashIncremental]] (sig read back from a persisted index), so the
    * two can never disagree on what a bucket is.
    *
    * posexplode_outer, NOT posexplode: the non-outer generator makes the
    * optimizer infer a size(...) > 0 filter, which then pushes to the
    * scan with minhashsig inlined — an interpreted per-row recompute of
    * the whole signature. The band array always has `bands` elements, so
    * outer semantics are identical and no filter is inferred.
    */
  private def bandBuckets(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bucketArr = transform(sequence(lit(0), lit(bands - 1)),
      b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
    sig.select(col("doc_id"),
      posexplode_outer(bucketArr).as(Seq("band", "bucket")))
  }

  // ----------------------------------------------------- banding auto-tune
  /** EXACT near-dup ground truth over an already-prepared (doc_id, hs)
    * frame ([[hashedShingleDocs]] — the SAME prep the LSH tier uses, so
    * the two can never shingle differently): candidates are pairs sharing
    * ≥1 hashed shingle — complete for jaccard > 0, so lossless at any
    * tau > 0 — then the same merge-based jaccard cut. All-pairs in the
    * worst case by nature (it IS the exact tier), which is why
    * [[tuneBands]] only ever runs it on a bounded probe sample.
    */
  private def exactHashedJaccardPairs(s: SparkSession, docs: DataFrame,
      tau: Double): DataFrame = {
    val ex = docs.select(col("doc_id"), explode_outer(col("hs")).as("h"))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("d1"), col("hs").as("s1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("hs").as("s2")), "d2")
      .filter(graft.functions.jaccard_hashed(col("s1"), col("s2")) >= tau)
      .select(col("d1"), col("d2"))
  }

  /** The bounded deterministic probe sample both tuners cut with — ONE
    * home for the ring/ceil arithmetic. Hash-cut, not limit():
    * deterministic, order-independent, unbiased w.r.t. duplication
    * structure (dup twins hash apart). 2^40 ring — wide enough that the
    * ceil'd keep slice stays within one row of the cap out past 10^15
    * rows (a 2^20 ring would stop binding at cap·2^20 — fatal in front
    * of the tuners' QUADRATIC exact-truth tiers; cf. the deliberately
    * narrower [[graft.ops.Similarity.trainSample]], whose linear k-means
    * consumer tolerates the overshoot). The keep count computes in
    * BigInt: cap·2^40 overflows Long past cap = 2^23, and the wrapped
    * negative would silently collapse the sample to ~empty — a vacuous
    * "cheapest geometry met" answer instead of an error.
    */
  private[graft] def hashCutSample(df: DataFrame,
      key: org.apache.spark.sql.Column, cap: Long, n: Long): DataFrame =
    if (n <= cap) df
    else {
      val ring = 1L << 40
      val keep = ((BigInt(cap) * ring + n - 1) / n).min(BigInt(ring)).toLong
      df.filter(pmod(xxhash64(key), lit(ring)) < math.max(1L, keep))
    }

  /** Banding-geometry resolver — [[graft.ops.Similarity.tuneForRecall]]'s
    * decision for the MinHash-LSH family: given the verify threshold tau
    * and a target recall, evaluate candidate band counts CHEAPEST-FIRST
    * (ascending bands — fewer bands ⇒ fewer bucket collisions ⇒ fewer
    * candidate verifications ⇒ cheaper, at lower recall) on a bounded
    * deterministic probe sample against the sample's EXACT ground truth,
    * and stop at the first geometry meeting the target. Candidates past
    * the winner never run — escalation is the point.
    *
    * Because [[minhashPairsOf]] exact-verifies its candidates with the
    * same jaccard cut the truth uses, its output is a SUBSET of the truth:
    * precision is 1.0 structurally and recall is the only dial, exactly
    * the S-curve trade the banding controls. Each evaluated geometry also
    * reports its analytic S-curve threshold (1/b)^(1/r) — the similarity
    * at which a pair's collision probability crosses ~1/2 — so the chosen
    * config is explainable, not just measured.
    *
    * The probe sample is a deterministic hash-cut of doc ids capped at
    * `sampleCap` (the [[graft.ops.Similarity.trainSample]] discipline, on
    * a 2^40 ring rather than trainSample's 2^20: trainSample feeds a
    * LINEAR consumer where the narrow ring's worst overshoot — a few× the
    * cap once n outgrows cap·2^20 — costs a proportionally longer k-means
    * scan, but this sample feeds the exact tier's QUADRATIC join, where
    * the same overshoot squares; the wide ring keeps the expected sample
    * within one doc of the cap out past 10^15 docs): tuner cost is
    * bounded by the cap — including the exact tier's worst-case
    * all-pairs — regardless of corpus size, which is what makes it
    * runnable against the 100 TB corpus at all. Within-sample recall is
    * the standard unbiased probe estimate (both endpoints must survive
    * the cut, so sparse-duplication corpora want a larger cap). The
    * prepared (doc_id, hs) sample persists ONCE and every ladder rung,
    * the truth tier and the report counts all read the cached ~sampleCap
    * rows — one pass over the input total, not one per rung.
    *
    * Output: one row per EVALUATED geometry in evaluation order —
    * the escalation trace, last row = the decision:
    * (bands, rows_per_band, s_curve_tau, truth_pairs, found_pairs,
    *  measured_recall, target_met, target, sample_docs — docs with ≥1
    * shingle that survived the cut).
    */
  def tuneBands(s: SparkSession, docs0: DataFrame, tau: Double = 0.7,
      targetRecall: Double = 0.9, numHashes: Int = DefaultNumHashes,
      candidateBands: Seq[Int] = Seq(4, 8, 16, 32),
      sampleCap: Long = 2000L): DataFrame = {
    require(tau > 0 && tau <= 1.0, s"tau must be in (0,1]: $tau")
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"target recall must be in (0,1]: $targetRecall")
    require(candidateBands.nonEmpty, "tuneBands needs candidate band counts")
    candidateBands.foreach(b => require(b > 0 && numHashes % b == 0,
      s"every candidate band count must divide numHashes ($numHashes): $b"))
    require(sampleCap > 0, s"sampleCap must be positive: $sampleCap")
    val n = docs0.count()
    val sample = hashCutSample(docs0, col("doc_id"), sampleCap, n)
    // ONE signed, materialized probe frame behind the whole ladder: the
    // MinHash signature is BAND-INVARIANT (a function of numHashes alone),
    // so every rung re-bands this frame instead of re-signing and
    // re-materializing an identical one per rung (the r13 shape — four
    // materialization jobs for a four-rung ladder, and each rung's
    // checkpointed joins re-planned from scratch).
    val signed = signedShingleDocs(hashedShingleDocs(s, sample), numHashes)
    val truth = exactHashedJaccardPairs(s, signed, tau).persist()
    try {
      val nTruth = truth.count()
      val nSample = signed.count()
      val ladder = candidateBands.sorted
      val rows = scala.collection.mutable.ListBuffer
        .empty[(Int, Int, Double, Long, Long, Double, Boolean)]
      val it = ladder.iterator
      var done = false
      while (it.hasNext && !done) {
        val b = it.next()
        val r = numHashes / b
        val found =
          if (nTruth == 0) 0L
          else minhashPairsFromSigned(s, signed, numHashes, b, tau)
            .select(col("d1"), col("d2"))
            .join(truth, Seq("d1", "d2")).count()
        // an empty truth set means the sample carries no pairs at tau —
        // every geometry is vacuously sufficient; report the cheapest as
        // met so the resolver is total, and surface truth_pairs = 0 for
        // the caller to judge (raise sampleCap / lower tau)
        val recall = if (nTruth == 0) 1.0 else found.toDouble / nTruth
        val met = recall >= targetRecall
        rows += ((b, r, math.pow(1.0 / b, 1.0 / r), nTruth, found,
          recall, met))
        if (met) done = true
      }
      import s.implicits._
      rows.toSeq
        .toDF("bands", "rows_per_band", "s_curve_tau", "truth_pairs",
          "found_pairs", "measured_recall", "target_met")
        .withColumn("target", lit(targetRecall))
        .withColumn("sample_docs", lit(nSample))
        .orderBy(col("bands"))
    } finally { truth.unpersist(); () }
  }

  /** Gate/bench form of the banding resolver (rows-only — the escalation
    * trace is engine-internal): resolve the cheapest band count meeting
    * recall ≥ 0.9 at the detector's own tau = 0.7 verify cut, over the
    * default 64-hash budget. DedupSpec pins the decisions (a generous
    * target stops the ladder early and never runs the geometries past the
    * winner; a strict target escalates), the S-curve closed form, and the
    * recall arithmetic against a hand recount.
    */
  def dedupTuneBands(s: SparkSession, dir: String): DataFrame =
    tuneBands(s, Tables(s, dir).documents)

  // ------------------------------------------------------------ simhash
  /** 64-bit SimHash over word hashes, kept as 4×16-bit chunks (ANSI-safe —
    * no 64-bit sign-bit packing). Near-dup candidates must share ≥1 chunk
    * when hamming ≤ 3 (pigeonhole over 4 chunks), so the pair join is
    * chunk-equi, not all-pairs. Output: pairs with hamming ≤ 3.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    // ONE projection from raw text to the 64-bit signature: tokenize+hash
    // (HashedNgrams, n=1, no mod, duplicates KEPT — every occurrence votes
    // in the bit tally) feeds SimHashChunks directly, both compiled
    // kernels. The old two-stage form paid an extra exchange of (doc_id,
    // word-hash array) — ~150 longs/row — solely because its transform()
    // HOF excluded the projection from WholeStageCodegen; with the kernel
    // there is nothing to quarantine. The barrier AFTER the projection
    // stays: the explode below references `chunks` twice, and without it
    // CollapseProject would inline (recompute) the signature per reference.
    val sig = Tables(s, dir).documents
      .repartition(spread(s), col("doc_id")) // spread the tokenize+hash work
      .select(col("doc_id"),
        simhash_chunks(hashed_ngrams(words(col("text")), 1)).as("chunks"))
      .repartition(spread(s), col("doc_id"))
    // _outer: chunks always has 4 elements; the non-outer generator would
    // infer size(chunks) > 0 and push it to the scan with simhash_chunks
    // inlined — an interpreted per-row recompute (same trap as minhash)
    val ex = sig.select(col("doc_id"), col("chunks"),
      posexplode_outer(col("chunks")).as(Seq("cidx", "cval")))
    val joined = ex.as("a").join(ex.as("b"),
        col("a.cidx") === col("b.cidx") && col("a.cval") === col("b.cval")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.cidx").as("cidx"),
        col("a.chunks").as("c1"), col("b.chunks").as("c2"))
    // Emit each pair exactly once, from its LOWEST shared chunk: a pair
    // matching in k chunks would otherwise appear k times (near-identical
    // docs match in all 4 → 4× duplication), and the distinct() that used
    // to collapse the copies was the widest exchange in the plan — ~92M
    // rows carrying both chunk arrays at the 100× probe. The first-match
    // predicate filters inside the join stage instead: no second shuffle.
    def chunk(c: Column, j: Int): Column = element_at(c, j + 1)
    val firstMatch = (0 until 4).map { k =>
      (0 until k).map(j => chunk(col("c1"), j) =!= chunk(col("c2"), j))
        .foldLeft(col("cidx") === k)(_ && _)
    }.reduce(_ || _)
    // hamming via literal-index bit_count sums — codegen'd, unlike the
    // aggregate/zip_with HOF form, which would also kick the whole
    // projection out of WholeStageCodegen
    val hamming = (0 until 4)
      .map(j => bit_count(chunk(col("c1"), j).bitwiseXOR(chunk(col("c2"), j))))
      .reduce(_ + _)
    joined.filter(firstMatch)
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= 3)
      .select(col("d1"), col("d2"), col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  // ------------------------------------------------------------ embedding
  /** Near-dup by embedding cosine ≥ 0.4 — all-pairs ground truth at test SF
    * (the scale path is Similarity's LSH/IVF bucketing). Cosine is the
    * codegen'd [[graft.functions.CosineSim]], bit-identical to the DuckDB
    * fold oracle, so the threshold compare is exact cross-engine.
    */
  def embedding(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        col("v1") < col("v2"))
      .select(col("v1"), col("v2"), cosine_sim(col("e1"), col("e2")).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy(col("v1"), col("v2"))
  }

  // ------------------------------------------------------------ embedding @ scale
  /** The scale tier for embedding near-dup: random-hyperplane LSH buckets
    * (shared with Similarity) generate candidate pairs; only candidates get
    * the exact cosine ≥ τ check — |bucket|² work instead of N². Rows-only;
    * DedupSpec pins recall vs the all-pairs [[embedding]] ground truth.
    */
  def embeddingLsh(s: SparkSession, dir: String, tau: Double = 0.4,
      numTables: Int = Similarity.DefaultTables,
      bits: Int = Similarity.DefaultBits): DataFrame =
    embeddingLshPairsOf(s,
      Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")),
      tau, numTables, bits)

  /** [[embeddingLsh]]'s body over an arbitrary (vec_id, embedding) frame —
    * the corpus-reading gate entry above and [[tuneEmbeddingLsh]]'s
    * probe-sample evaluations share this verbatim, so the geometry the
    * tuner measures is exactly the geometry the detector deploys.
    */
  private[graft] def embeddingLshPairsOf(s: SparkSession, e: DataFrame,
      tau: Double, numTables: Int, bits: Int): DataFrame = {
    // buckets are id-only: dedup candidate pairs as (v1, v2) longs first,
    // re-join the embeddings after — the distinct's exchange carries 16
    // bytes/row instead of two 64-float vectors. `bits` is the scale knob:
    // Σ|bucket|² work wants E|bucket| roughly constant, so bits grows with
    // log2(N) (ScaleProbe picks ceil(log2(N/128)))
    val b = Similarity.lshBuckets(e, 64, numTables, bits)
    val cand = b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .select(col("v1"), col("v2"), cosine_sim(col("e1"), col("e2")).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("v1"), col("v2"))
  }

  /** Hyperplane-LSH geometry resolver — [[tuneBands]]' decision for the
    * EMBEDDING near-dup family: given the cosine verify threshold tau and
    * a target recall, evaluate candidate (tables, bits) geometries
    * CHEAPEST-FIRST on a bounded deterministic probe sample against the
    * sample's exact all-pairs ground truth, stopping at the first
    * geometry meeting the target (geometries past the winner never run).
    * Cost ordering is the candidate-economics closed form: expected
    * Σ|bucket|² work ∝ tables / 2^bits for well-spread buckets — more
    * tables buy recall linearly in cost, more bits cut candidates
    * exponentially at recall's expense.
    *
    * Like the banding tuner, precision is structurally 1.0 (the detector
    * exact-verifies candidates at the same tau with the same compiled
    * cosine), so found ⊆ truth and recall is the only dial. Each row also
    * carries the analytic collision probability at tau itself —
    * 1 − (1 − (1 − arccos(tau)/π)^bits)^tables, the Charikar
    * random-hyperplane form — so the decision is explainable: measured
    * recall exceeds it because real duplicate pairs sit well above the
    * threshold. Probe-sample discipline identical to [[tuneBands]]
    * (2^40-ring hash-cut, cap binding regardless of corpus size, one
    * persisted sample behind the whole ladder).
    *
    * Output: one row per EVALUATED geometry, ascending cost — the
    * escalation trace, last row = the decision: (tables, bits,
    * collision_at_tau, truth_pairs, found_pairs, measured_recall,
    * target_met, target, sample_vecs).
    */
  def tuneEmbeddingLsh(s: SparkSession, vectors0: DataFrame,
      tau: Double = 0.4, targetRecall: Double = 0.9,
      candidates: Seq[(Int, Int)] = Seq((2, 6), (4, 4), (6, 3), (8, 2)),
      sampleCap: Long = 2000L): DataFrame = {
    require(tau > -1.0 && tau <= 1.0, s"tau must be in (-1,1]: $tau")
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"target recall must be in (0,1]: $targetRecall")
    require(candidates.nonEmpty, "tuneEmbeddingLsh needs candidate geometries")
    candidates.foreach { case (t, b) =>
      require(t > 0 && b > 0 && b <= 30,
        s"geometry must have positive tables and bits in (0,30]: ($t, $b)")
    }
    require(sampleCap > 0, s"sampleCap must be positive: $sampleCap")
    val n = vectors0.count()
    val sample = hashCutSample(vectors0, col("vec_id"), sampleCap, n)
    // Local-fit gate (the Similarity.LocalFitMaxRows discipline): the probe
    // sample is CAP-BOUNDED regardless of corpus size, and each ladder rung
    // was ~5 scheduled jobs over ≤2k cached rows — collect the sample once
    // and evaluate truth + every rung in-process with the IDENTICAL kernels
    // (Similarity.hyperplane planes, HyperplaneBuckets' sign-bit packing,
    // CosineSim's double fold), so counts, recall and the escalation trace
    // are the ones the engine would produce. The distributed ladder below
    // remains for callers that raise the cap past the local all-pairs
    // budget (truth is O(sample²·dim)).
    if (math.min(n, sampleCap) <= 8192) {
      // sort by vec_id so dense index order == id order: the engine's
      // (v1 < v2) pair normalization becomes (i < j), and pair sets live
      // in flat BitSets (i·ns + j) instead of boxed tuple hashes
      val rowsE = hashCutSample(vectors0, col("vec_id"), sampleCap, n)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val ns = rowsE.length
      val vecs = rowsE.map(_._2)
      val nSample = ns.toLong
      val truthBits = new java.util.BitSet(ns * ns)
      var nTruth = 0L
      var i = 0
      while (i < ns) {
        var j = i + 1
        while (j < ns) {
          if (rowsE(i)._1 != rowsE(j)._1 &&
              Similarity.cosLocal(vecs(i), vecs(j)) >= tau) {
            truthBits.set(i * ns + j); nTruth += 1
          }
          j += 1
        }
        i += 1
      }
      val ladder = candidates.sortBy { case (t, b) => t.toDouble / (1L << b) }
      val rows = scala.collection.mutable.ListBuffer
        .empty[(Int, Int, Double, Long, Long, Double, Boolean)]
      val it = ladder.iterator
      var done = false
      while (it.hasNext && !done) {
        val (t, b) = it.next()
        val found: Long =
          if (nTruth == 0) 0L
          else {
            // lshBuckets' plane tensor layout: planes[(t·bits+j)·dim + d]
            val planes = Array.tabulate(t * b * 64) { idx =>
              val d = idx % 64
              val j = (idx / 64) % b
              val tb = idx / (64 * b)
              Similarity.hyperplane(tb, j, 64)(d)
            }
            // per-vector bucket per table (HyperplaneBuckets' sign packing)
            val buckets = Array.ofDim[Int](ns, t)
            var ri = 0
            while (ri < ns) {
              val v = vecs(ri)
              val nn = math.min(64, v.length)
              var tb = 0
              while (tb < t) {
                var bucket = 0
                var j = 0
                while (j < b) {
                  val base = (tb * b + j) * 64
                  var dot = 0.0
                  var d = 0
                  while (d < nn) { dot += v(d).toDouble * planes(base + d); d += 1 }
                  if (dot > 0) bucket |= 1 << j
                  j += 1
                }
                buckets(ri)(tb) = bucket
                tb += 1
              }
              ri += 1
            }
            val seen = new java.util.BitSet(ns * ns)
            var f = 0L
            var tb = 0
            while (tb < t) {
              val group = scala.collection.mutable.HashMap
                .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
              var ri2 = 0
              while (ri2 < ns) {
                group.getOrElseUpdate(buckets(ri2)(tb),
                  scala.collection.mutable.ArrayBuffer.empty[Int]) += ri2
                ri2 += 1
              }
              group.valuesIterator.foreach { members =>
                var a = 0
                while (a < members.length) {
                  var c = a + 1
                  while (c < members.length) {
                    val ia = members(a); val ic = members(c)
                    val key = ia * ns + ic
                    if (rowsE(ia)._1 != rowsE(ic)._1 && !seen.get(key)) {
                      seen.set(key)
                      if (truthBits.get(key) &&
                          Similarity.cosLocal(vecs(ia), vecs(ic)) >= tau) f += 1
                    }
                    c += 1
                  }
                  a += 1
                }
              }
              tb += 1
            }
            f
          }
        val recall = if (nTruth == 0) 1.0 else found.toDouble / nTruth
        val met = recall >= targetRecall
        val pBit = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
        val collide = 1.0 - math.pow(1.0 - math.pow(pBit, b), t)
        rows += ((t, b, collide, nTruth, found, recall, met))
        if (met) done = true
      }
      import s.implicits._
      return rows.toSeq
        .toDF("tables", "bits", "collision_at_tau", "truth_pairs",
          "found_pairs", "measured_recall", "target_met")
        .withColumn("target", lit(targetRecall))
        .withColumn("sample_vecs", lit(nSample))
        .orderBy(col("tables") / pow(lit(2.0), col("bits")))
    }
    val e = sample.select(col("vec_id"), col("embedding")).persist()
    val truth = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        col("v1") < col("v2"))
      .filter(cosine_sim(col("e1"), col("e2")) >= tau)
      .select(col("v1"), col("v2"))
      .persist()
    try {
      val nTruth = truth.count()
      val nSample = e.count()
      val ladder = candidates.sortBy { case (t, b) => t.toDouble / (1L << b) }
      val rows = scala.collection.mutable.ListBuffer
        .empty[(Int, Int, Double, Long, Long, Double, Boolean)]
      val it = ladder.iterator
      var done = false
      while (it.hasNext && !done) {
        val (t, b) = it.next()
        val found =
          if (nTruth == 0) 0L
          else embeddingLshPairsOf(s, e, tau, t, b)
            .select(col("v1"), col("v2"))
            .join(truth, Seq("v1", "v2")).count()
        // empty truth = no pairs at tau in the sample: vacuously met on
        // the cheapest geometry (the tuneBands totality rule), with
        // truth_pairs = 0 surfaced for the caller to judge
        val recall = if (nTruth == 0) 1.0 else found.toDouble / nTruth
        val met = recall >= targetRecall
        val pBit = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
        val collide = 1.0 - math.pow(1.0 - math.pow(pBit, b), t)
        rows += ((t, b, collide, nTruth, found, recall, met))
        if (met) done = true
      }
      import s.implicits._
      rows.toSeq
        .toDF("tables", "bits", "collision_at_tau", "truth_pairs",
          "found_pairs", "measured_recall", "target_met")
        .withColumn("target", lit(targetRecall))
        .withColumn("sample_vecs", lit(nSample))
        .orderBy(col("tables") / pow(lit(2.0), col("bits")))
    } finally { truth.unpersist(); e.unpersist(); () }
  }

  /** Gate/bench form of the embedding-geometry resolver (rows-only — the
    * escalation trace is engine-internal): resolve the cheapest
    * (tables, bits) meeting recall ≥ 0.9 at the family's own tau = 0.4
    * cut. DedupSpec pins the decisions, the Charikar closed form, the
    * recall arithmetic, and a controlled just-above-threshold corpus
    * escalating exactly as the S-curve predicts.
    */
  def dedupTuneEmbedding(s: SparkSession, dir: String): DataFrame =
    tuneEmbeddingLsh(s, Tables(s, dir).embeddings)

  // ------------------------------------------------------------ semantic
  /** SemDeDup-shaped semantic dedup (Abbas et al., arXiv:2303.09540):
    * k-means-cluster the embedding space, then pay exact cosine only
    * WITHIN each cluster — the second scale tier for embedding near-dup,
    * complementary to [[embeddingLsh]] (LSH buckets by random geometry;
    * clustering buckets by the corpus's own density, which is what you
    * want when near-dups are semantic rather than metric-tight).
    *
    * Scale shape: k grows with N (k = N/targetCluster) so E|cluster| stays
    * ~targetCluster and within-cluster work stays Σ|cluster|² ≈
    * N·targetCluster·nprobe², never N². Seeding is vec_id mod k
    * (deterministic, rerun-stable; no sampled init). Each vector is a
    * member of its [[nprobe]] nearest cells — hard top-1 assignment
    * measured 0.75 recall at best (near-dup pairs split by a cell
    * boundary never meet); multi-probe membership is the standard IVF fix
    * and lifts it to ~0.95 for 2× candidate work. The centroid table is
    * O(k·dim) driver state — 25 MB at 100k cells — broadcast to both the
    * Lloyd refinement and the membership ranking; candidates travel
    * id-only through their distinct (16 B/row, the embeddingLsh
    * discipline) and embeddings re-join only for the exact verify. The
    * flat N·k membership scoring is the small-k path; the default
    * (`coarseProbe = -1`, auto) routes membership through
    * [[membershipTwoLevel]] (score N·√k coarse + N·cprobe·√k fine
    * instead of N·k) once k reaches [[AutoTwoLevelK]] — pass 0 to force
    * flat, > 0 to force two-level with that many coarse probes.
    * Precision is exact by construction (every emitted
    * pair passed exact cosine ≥ τ); recall vs the all-pairs [[embedding]]
    * truth is spec-pinned at two geometries, and two-level vs flat
    * membership parity is spec-pinned at two geometries too.
    */
  def semantic(s: SparkSession, dir: String, tau: Double = 0.4,
      targetCluster: Int = 128, iters: Int = 2, nprobe: Int = 2,
      coarseProbe: Int = -1, autoTwoLevelK: Int = AutoTwoLevelK): DataFrame = {
    val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
    val k = math.max(2, (e.count() / targetCluster).toInt)
    // k ∝ N here, so the kmeans default cap alone would starve large-k
    // trainings (falling under 1 training point per cell once N/128
    // outgrows 256k cells); scale the cap with k so Lloyd always sees
    // ~TrainSamplePerCell points per cell. With targetCluster=128 that
    // caps training at ~0.78N — a modest constant-factor saving, by
    // design: when k must track N, per-cell sample floors dominate, and
    // the structural 100 TB saving at this tier is two-level membership
    // (and iters, each now scanning the sample, not the corpus).
    val cents = Similarity.kmeans(e, pmod(col("vec_id"), lit(k)), iters,
      trainCap = math.max(Similarity.TrainSamplePerCell * k,
        Similarity.TrainSampleMin))
    val cprobe = resolveCoarseProbe(coarseProbe, k, autoTwoLevelK)
    // multi-probe membership: rank cells per vector (the window is why
    // this doesn't reuse assignCells' max_by — multi-probe needs the top
    // P, not the max; N·k rows ranked, id+cell out)
    val member =
      if (cprobe > 0) membershipTwoLevel(e, cents, nprobe, cprobe)
      else Similarity.topCells(e.join(broadcast(cents))
        .select(col("vec_id"), col("cell"),
          nanvl(cosine_sim(col("embedding"), col("centroid")), lit(-1.0)).as("ccos")),
        "vec_id", "cell", nprobe)
    val cand = member.as("a").join(member.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .select(col("v1"), col("v2"), cosine_sim(col("e1"), col("e2")).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("v1"), col("v2"))
  }

  /** Fine-cell count at which [[semantic]]'s auto path (coarseProbe = -1)
    * cuts over from flat N·k membership scoring to [[membershipTwoLevel]]:
    * the 100× probe (k ≈ 1562) measured two-level at 54-64 s vs 87 s flat
    * at 82-86% pair parity — i.e. by ~1.5k cells two-level already wins
    * wall, so auto engages at the measured win point rather than an
    * extrapolated one. Below it, the flat window's N·k skinny rows are
    * cheaper than the extra exchange two-level pays.
    */
  val AutoTwoLevelK = 1500

  /** cprobe = 3 on auto-cutover: the measured parity/wall sweet spot
    * (cprobe=2 → 82% pair parity, 3 → 86% for ~equal wall at 100×).
    */
  private[graft] def resolveCoarseProbe(coarseProbe: Int, k: Int,
      autoTwoLevelK: Int): Int =
    if (coarseProbe >= 0) coarseProbe
    else if (k >= autoTwoLevelK) 3
    else 0

  /** Two-level multi-probe membership — the quantizer shard that keeps
    * SemDeDup credible past ~10M cells: cluster the k fine centroids into
    * c ≈ √k coarse cells (k rows — driver-scale work), then each vector
    * (1) scores the c coarse centroids and keeps its `cprobe` nearest,
    * (2) scores only the fine cells OWNED by those coarse cells. Expected
    * scoring work per vector is c + cprobe·(k/c) = O(√k·(1+cprobe))
    * instead of k; both ranking windows shuffle skinny (id, cell, score)
    * rows. The one extra exchange vs the flat scorer is the embedding
    * re-join after the coarse top-P — N rows, dwarfed by the N·k rows the
    * flat window shuffles once k outgrows dim. A vector near a coarse
    * boundary can miss fine cells its flat scorer would rank (the coarse
    * cell owning them wasn't probed) — cprobe ≥ 2 is the standard
    * multi-probe fix; DedupSpec pins membership parity vs flat at two
    * geometries.
    */
  private[ops] def membershipTwoLevel(e: DataFrame, cents: DataFrame,
      nprobe: Int, cprobe: Int): DataFrame = {
    val k = cents.count() // cents is a driver-local toDF — counting is free
    val c = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    // coarse layer: k-means over the fine-centroid table itself, seeded
    // deterministically like every other clustering here
    val centsAsVecs = cents
      .select(col("cell").as("vec_id"), col("centroid").as("embedding"))
    val coarse = Similarity.kmeans(centsAsVecs, pmod(col("vec_id"), lit(c)), 2)
    // each fine cell's owning coarse cell (hard top-1 — ownership must
    // partition the fine cells, multi-probing happens on the query side)
    val fineOwner = Similarity.assignCells(centsAsVecs, coarse)
      .select(col("vec_id").as("cell"), col("cell").as("ccell"))
    val coarseTop = Similarity.topCells(e.join(broadcast(
        coarse.select(col("cell").as("ccell"), col("centroid").as("ccent"))))
      .select(col("vec_id"), col("ccell"),
        nanvl(cosine_sim(col("embedding"), col("ccent")), lit(-1.0)).as("ccos")),
      "vec_id", "ccell", cprobe)
    // fine cells tagged with their owner: k rows, broadcast
    val fineTagged = broadcast(cents.join(fineOwner, Seq("cell")))
    Similarity.topCells(e.join(coarseTop, Seq("vec_id"))
      .join(fineTagged, Seq("ccell"))
      .select(col("vec_id"), col("cell"),
        nanvl(cosine_sim(col("embedding"), col("centroid")), lit(-1.0)).as("ccos")),
      "vec_id", "cell", nprobe)
  }

  // ------------------------------------------------------------ components
  /** Near-dup groups: connected components over the LSH pair graph via
    * iterative min-label propagation (large-star/small-star simplified):
    * every doc starts labeled with itself; each round, a doc adopts the
    * smallest label among itself and its neighbors; stop when no label
    * changes. Converges in O(log |largest component|) rounds — a handful
    * even at 100 TB — and each round is one groupBy over the edge list.
    * Output: (doc_id, canonical_id = component minimum) for docs that have
    * at least one near-dup; the curation step keeps canonical_id == doc_id.
    */
  def nearDupGroups(s: SparkSession, dir: String, maxIter: Int = 10): DataFrame =
    nearDupGroups(
      minhashPairsOf(s, Tables(s, dir).documents, DefaultNumHashes,
        DefaultBands, tau = 0.7), maxIter)

  /** Components over a PRECOMPUTED pair frame (any (d1, d2) edge list —
    * minhash, simhash, or embedding pairs). This is the form a real
    * pipeline composes: at 100 TB the LSH pairs are materialized once and
    * every consumer (groups, survivors, audits) reads them, instead of each
    * re-running the full MinHash+LSH chain the (s, dir) wrapper implies.
    */
  def nearDupGroups(pairs: DataFrame, maxIter: Int): DataFrame =
    propagateMinLabels(pairs, maxIter)._1

  def nearDupGroups(pairs: DataFrame): DataFrame = nearDupGroups(pairs, 10)

  /** Components INCREMENTALLY: fold a batch's new edges into an existing
    * labeling without revisiting the old pair set — the missing step of
    * the living-corpus loop (the ingest sinks already find each batch's
    * pairs incrementally; this keeps the component table current the same
    * way, instead of re-running propagation over every pair ever found).
    *
    * The old labeling IS a connectivity-preserving contraction of the old
    * graph: every doc is connected to its component's canonical and to
    * nothing else, so components(labelEdges ∪ newPairs) ≡
    * components(oldPairs ∪ newPairs) — EXACTLY, canonical ids included
    * (the full recompute picks each merged component's min doc id, and
    * every old doc is present here as a labelEdge endpoint, so the same
    * min wins; DedupSpec pins the equality, bridged components included).
    *
    * Scale shape: per batch the propagation input is |corpus| label edges
    * (a star forest — diameter 2 by construction) plus |batch| new edges,
    * NOT the full historical pair set (dup-dense corpora carry far more
    * pairs than docs); and because the old graph arrives pre-contracted,
    * convergence needs only the rounds the NEW bridges demand (≤3 for
    * typical batch bridging — spec-pinned on a worst-case chain that the
    * full recompute needs 8 rounds for), not the old graph's diameter.
    *
    * DELETION CONTRACT — this fold is ADDITION-ONLY: min-label
    * propagation can only merge components, never retract connectivity,
    * so a tombstoned doc's label edges keep bridging its component after
    * a takedown (docs connected only THROUGH the deleted doc stay
    * labeled together). The maintenance path owns the fix:
    * [[maybeRebuildComponents]] rebuilds the persisted labeling from the
    * live index whenever tombstoned ids still appear in it, and
    * [[graft.ops.Fsck.fsckMinhashIndex]] warns (`tombstoned_labels`)
    * until it runs.
    */
  def nearDupGroupsIncremental(labels0: DataFrame, newPairs: DataFrame,
      maxIter: Int = 10): DataFrame = {
    val labelEdges = labels0
      .select(col("doc_id").as("d1"), col("canonical_id").as("d2"))
    // truncate lineage at the fold seam: labels0 usually IS a previous
    // propagation's output, whose plan nests one join layer per round —
    // feeding that into another iterative propagation compounds plans
    // multiplicatively (the convergence checks and plan stringification
    // blow up long before the data does). localCheckpoint materializes
    // the edge list (tiny: two longs per doc + batch pair) and restarts
    // the plan from blocks, exactly the standard iterative-algorithm
    // seam. In a real pipeline the labeling would round-trip through the
    // component table on disk anyway — this keeps the in-session
    // composition equivalent to that.
    val input = Materialize(labelEdges
      .unionByName(newPairs.select(col("d1"), col("d2"))))
    nearDupGroups(input, maxIter)
  }

  /** The persisted component-labels table for a signature index — a
    * SIBLING path like the tombstones (the index dir must stay a pure
    * parquet dataset the plain appends can keep writing into).
    */
  def componentLabelsPath(indexPath: String): String =
    s"${indexPath}_components"

  /** The stamped LSH parameters of a persisted labeling — `_labels_meta`,
    * a `_`-prefixed sorted `key=value` file INSIDE the `_components` dir
    * (invisible to parquet readers, swaps atomically WITH the labeling it
    * describes). Same failure class as the durable states' `_state_meta`:
    * a labeling built at non-default (bands, tau) that a later
    * maintenance rebuild silently re-derives under DIFFERENT parameters
    * changes the candidate-pair set — and therefore the component
    * structure — with no error anywhere. Empty when the labeling predates
    * the protocol or doesn't exist.
    */
  def componentLabelsMeta(s: SparkSession,
      indexPath: String): Map[String, String] =
    graft.Inputs.readKeyValues(s,
      s"${componentLabelsPath(indexPath)}/_labels_meta")

  /** Rebuild and persist the component labeling over the LIVE signature
    * index (tombstones applied): pairs come from the stored (doc_id, hs)
    * rows — corpus text is never re-read — with the signature width read
    * from the index itself (self-describing geometry), then min-label
    * propagation, staged write. This is the full-recompute tier the
    * addition-only fold's deletion contract needs; the incremental tier
    * is [[nearDupGroupsIncremental]] over each batch's new pairs.
    */
  def saveComponentLabels(s: SparkSession, indexPath: String,
      bands: Int = DefaultBands, tau: Double = 0.7,
      maxIter: Int = 10): Unit = {
    val live = loadMinhashIndex(s, indexPath)
    val numHashes = live.select(size(col("sig"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(DefaultNumHashes)
    val labels = nearDupGroups(
      minhashPairsFromHs(s, live.select(col("doc_id"), col("hs")),
        numHashes, bands, tau), maxIter)
    graft.ops.Layout.writeStaged(s, componentLabelsPath(indexPath)) { st =>
      labels.write.parquet(st)
      // stamp the pair-generating geometry IN the staged dir, so labeling
      // + stamp promote in one rename and a rebuild can never read a stamp
      // describing the previous generation
      graft.Inputs.writeKeyValues(s, s"$st/_labels_meta", Seq(
        "bands" -> bands.toString, "max_iter" -> maxIter.toString,
        "tau" -> tau.toString))
    }
    labels.unpersist()
    ()
  }

  /** The deletion-contract maintenance decision: rebuild the persisted
    * labeling IFF any tombstoned id still appears in it (as member or
    * canonical) — the exact state where the addition-only fold may claim
    * connectivity through a deleted bridge. Returns (rebuilt, affected
    * label rows). Declines with (false, 0) when there is no labeling to
    * maintain, no tombstones, or no overlap — a rebuild scans the index,
    * so it must not fire on every takedown of an unlabeled doc. Must run
    * BEFORE [[compactMinhashIndex]] folds the tombstone file away (the
    * decision reads it); the maintenance orchestrator sequences this.
    *
    * LSH parameters come from the labeling's OWN `_labels_meta` stamp —
    * a labeling built by [[saveComponentLabels]] at non-default
    * (bands, tau) must be rebuilt under the SAME geometry, or the
    * maintenance pass silently swaps in a labeling over a DIFFERENT
    * candidate-pair set (the `_state_meta` failure class, on the
    * `_components` artifact). Callers pass `None` (the maintenance
    * default) to inherit the stamp; an explicit `Some(x)` that
    * contradicts an existing stamp raises like `durableFold` does —
    * never silently wins. Pre-stamp labelings fall back to the
    * declared-or-default values (the upgrade path: the rebuild then
    * writes the first stamp).
    */
  def maybeRebuildComponents(s: SparkSession, indexPath: String,
      bands: Option[Int] = None, tau: Option[Double] = None,
      maxIter: Int = 10): (Boolean, Long) = {
    val labelsDir = componentLabelsPath(indexPath)
    val ts = minhashTombstonePath(indexPath)
    val conf = s.sparkContext.hadoopConfiguration
    def readable(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).exists(p)
    }
    if (!readable(labelsDir) || !readable(ts)) return (false, 0L)
    val labels = s.read.parquet(labelsDir)
    val tomb = s.read.parquet(ts).select(col("doc_id").as("tid")).distinct()
    val affected = labels
      .join(tomb, col("doc_id") === col("tid"), "left_semi")
      .unionByName(
        labels.join(tomb, col("canonical_id") === col("tid"), "left_semi"))
      .distinct().count()
    if (affected == 0L) (false, 0L)
    else {
      val stamped = componentLabelsMeta(s, indexPath)
      def resolve[T](key: String, declared: Option[T], default: T,
          parse: String => T): T = stamped.get(key) match {
        case Some(v) =>
          val st = parse(v)
          declared.foreach(d => require(d == st,
            s"maybeRebuildComponents: labeling at $labelsDir is stamped " +
              s"$key=$st but the caller declared $key=$d — rebuilding " +
              "under different LSH parameters silently changes the " +
              "pair set; pass None to inherit the stamp, or rebuild " +
              "explicitly via saveComponentLabels"))
          st
        case None => declared.getOrElse(default)
      }
      // max_iter is a convergence CAP, not pair-set geometry — inherit the
      // stamp when present, no mismatch fence needed
      saveComponentLabels(s, indexPath,
        resolve("bands", bands, DefaultBands, _.toInt),
        resolve("tau", tau, 0.7, _.toDouble),
        resolve("max_iter", None, maxIter, _.toInt))
      (true, affected)
    }
  }

  /** Gate/bench form (rows-only — labelings are engine-internal): the
    * living-corpus composition at gate scale — components over the
    * pre-batch 3/4-corpus's pairs, then ONE incremental fold of the
    * batch's index-found pairs ([[minhashIncremental]]'s gate output —
    * the same doc_id % 4 batch convention and persisted index). Output ≡
    * a full recompute over the whole corpus's pairs (spec-pinned; the
    * two inputs partition the full pair set exactly because incremental
    * ≡ full-LSH-restricted-to-batch-touching is already pinned).
    */
  def dedupComponentsIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    // the pre-batch labeling and the batch's index-found pairs are
    // INDEPENDENT until the fold (guide §2.6: actions are sequential only
    // because driver code calls them sequentially) — evaluate both eagerly
    // on a 2-thread pool so the propagation rounds' scheduler gaps are
    // back-filled by the incremental candidate/verify join. The base
    // labeling skips the gate's orderBy (it is consumed as label EDGES —
    // the fold re-sorts its own output); the batch pairs come from the
    // unsorted body and are materialized once (localCheckpoint) as the
    // fold input.
    val parts = Par.mapOrdered[() => DataFrame, DataFrame](Seq(
      () => propagateMinLabels(
        minhashPairsOf(s, docs.filter(col("doc_id") % 4 =!= 0),
          DefaultNumHashes, DefaultBands, tau = 0.7), 10, sorted = false)._1,
      () => Materialize(minhashIncrementalPairs(s,
        docs.filter(col("doc_id") % 4 === 0),
        persistedMinhashIndex(s, dir)))),
      inFlight = Par.gate(s.sparkContext.defaultParallelism, cap = 2))(_())
    val (base, incPairs) = (parts(0), parts(1))
    // returned AS the cached frame (orderBy(doc_id) inside the fold's
    // propagation) — wrapping it in another projection would make the
    // caller's unpersist a silent no-op, the exact anti-pattern the
    // propagateMinLabels scaladoc warns about
    val out = nearDupGroupsIncremental(base, incPairs)
    base.unpersist()
    out
  }

  /** Min-label propagation returning (labels, rounds-run) — the stats form
    * ScaleProbe uses to report convergence behavior.
    *
    * The RETURNED frame is cached and materialized (consumers read the
    * cache instead of re-running the iterative lineage) and the CALLER owns
    * unpersisting it — repeated invocations in a long-lived session
    * otherwise pin one cached frame each. The cache entry belongs to the
    * returned frame itself, not an internal ancestor: `unpersist()` matches
    * on plan `sameResult`, so caching an internal frame and returning a
    * projection of it would make the caller's unpersist a silent no-op
    * (the round-4 lingering-cache warnings were exactly that).
    */
  /** @param sorted whether the returned labels carry the gate entries'
    *   orderBy(doc_id) output contract. Internal consumers (survivors'
    *   cluster aggregate, the curation funnel's dropped-id filter, the
    *   incremental fold's label edges) aggregate or filter the labels
    *   immediately, so the global range-sort is discarded work for them —
    *   at 100 TB a full sort of the label table per consumer (guide §2.4:
    *   an orderBy used only to make output deterministic is an Exchange
    *   you can remove when no one reads the order).
    */
  def propagateMinLabels(pairs0: DataFrame, maxIter: Int = 10,
      sorted: Boolean = true): (DataFrame, Int) = {
    val pairs = pairs0.select(col("d1"), col("d2")).cache()
    try {
      // symmetric edge list incl. self-loops so isolated endpoints keep
      // labels — ONE generator pass over the cached pairs instead of the
      // former 4-way union (4 cache scans feeding the same distinct; the
      // edge SET is identical, so every downstream min-agg is too)
      val edges = pairs.select(explode(array(
          struct(col("d1").as("src"), col("d2").as("dst")),
          struct(col("d2").as("src"), col("d1").as("dst")),
          struct(col("d1").as("src"), col("d1").as("dst")),
          struct(col("d2").as("src"), col("d2").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct().cache()
      var labels = edges.groupBy(col("src").as("doc_id"))
        .agg(min(col("dst")).as("label"))  // round 1: min neighbor
        .cache()
      // convergence via the label-mass invariant: min-propagation is
      // monotone non-increasing per doc (the self-loop keeps each doc's own
      // label in every min), and `next` covers exactly the same doc set, so
      // Σlabel strictly decreases iff ANY label changed. One map-side
      // decimal aggregate over the frame being cached anyway replaces the
      // former next⋈labels inequality join per round (decimal: exact and
      // overflow-free at any id·corpus product, unlike a Long sum).
      def labelMass(df: DataFrame): java.math.BigDecimal = {
        val d = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
          .getDecimal(0)
        if (d == null) java.math.BigDecimal.ZERO else d // empty edge list
      }
      var mass = labelMass(labels)
      var it = 1
      var converged = false
      while (it < maxIter && !converged) {
        // hop: min label over graph neighbors — one groupBy over the edges
        val hop = edges.join(labels, col("dst") === col("doc_id"))
          .groupBy(col("src"))
          .agg(min(col("label")).as("label"))
          .select(col("src").as("doc_id"), col("label"))
        // pointer jump: label := label(label) — every label value is a
        // vertex id and hop covers every vertex (self-loops), so this
        // DOUBLES the propagation horizon per round. Hop alone converges
        // in O(diameter) rounds, which a path-shaped component turns into
        // maxIter-exhaustion (the dup-dense clique corpora here converge
        // in 2 either way — the chain spec pins the pathological shape);
        // hop+jump is O(log diameter), the pointer-doubling of the
        // classic PRAM/MapReduce CC algorithms (cf. Kiveris et al. 2014).
        // The two hop references compile to one exchange (ReusedExchange).
        val next = hop
          .join(hop.select(col("doc_id").as("label"), col("label").as("jl")),
            Seq("label"))
          .select(col("doc_id"), least(col("label"), col("jl")).as("label"))
          .cache()
        // the convergence aggregate materializes `next` into its cache, so
        // the superseded frame can drop immediately — without this, a
        // long-lived session leaks one cached DF per iteration
        val nextMass = labelMass(next)
        converged = nextMass.compareTo(mass) == 0
        mass = nextMass
        labels.unpersist()
        labels = next
        it += 1
      }
      // re-cache under the RETURNED plan (see scaladoc) so the caller's
      // unpersist really clears it; count() fills it from the still-warm
      // labels cache, then both internal caches drop.
      val renamed = labels.select(col("doc_id"), col("label").as("canonical_id"))
      val out = (if (sorted) renamed.orderBy(col("doc_id")) else renamed)
        .cache()
      out.count()
      labels.unpersist()
      edges.unpersist()
      (out, it)
    } finally pairs.unpersist()
  }

  // ------------------------------------------------------------ survivors
  /** The end-to-end near-dup curation decision: every document survives
    * except non-canonical members of a near-dup component — i.e. one
    * representative per duplicate cluster, everything else untouched.
    * Composes [[minhashLsh]] → [[nearDupGroups]] → anti-join; the
    * anti-join's right side is only the dropped doc_ids (tiny relative to
    * the corpus), so at 100 TB it broadcasts.
    */
  def nearDupSurvivors(s: SparkSession, dir: String): DataFrame =
    nearDupSurvivors(Tables(s, dir).documents, nearDupGroups(s, dir))

  /** Survivors from PRECOMPUTED component labels — composes with the pair
    * overload of [[nearDupGroups]] so a pipeline materializes pairs once:
    * pairs → groups → survivors, no repeated LSH.
    */
  def nearDupSurvivors(docs: DataFrame, groups: DataFrame): DataFrame = {
    val dropped = groups
      .filter(col("canonical_id") =!= col("doc_id"))
      .select(col("doc_id"))
    docs
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Survivors WITH multiplicity — the "keep one copy, upweight it"
    * knob the dedup-analysis literature recommends over hard dropping
    * (removing 99 near-twins shouldn't silently down-represent their
    * content 100×; a trainer multiplies `n_copies` — or a dampened
    * f(n_copies) — into its sampling weight). Each canonical survivor
    * carries its cluster's member count and absorbed character mass;
    * docs outside any cluster survive with n_copies = 1. Composes with
    * the E-S sampler (weight ∝ n_copies × length) and the leakage-safe
    * split. Anti-join shape of [[nearDupSurvivors]] plus one
    * cluster-count-sized aggregate joined back on the canonical — the
    * join's right side is cluster-count-sized, broadcastable at 100 TB.
    */
  def nearDupSurvivorsWeighted(docs: DataFrame,
      groups: DataFrame): DataFrame = {
    val clusterStats = groups
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_copies"),
        sum(col("n_chars")).as("cluster_chars"))
    docs
      .join(groups.filter(col("canonical_id") =!= col("doc_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(clusterStats.withColumnRenamed("canonical_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_copies"), lit(1L)).as("n_copies"),
        coalesce(col("cluster_chars"), col("n_chars")).as("cluster_chars"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Gate form (rows-only — clusters are MinHash-derived): survivors
    * with multiplicity over the full-corpus components. The
    * mass-conservation properties (Σ n_copies = |corpus|, Σ
    * cluster_chars = corpus chars, survivors ≡ [[nearDupSurvivors]])
    * are spec-pinned.
    */
  def nearDupSurvivorsWeightedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    // labels stay SORTED here although the aggregate re-shuffles them: an
    // r13 A/B (7-run best-of, quiet host, one-line flip) measured the
    // unsorted labels ~1 s SLOWER for this entry (min 4.76 vs 3.74) — the
    // sorted cache's coalesced range layout evidently feeds the assembly
    // consumers better at this SF than the propagation join's raw
    // partitioning; removing a sort only wins when the cache layout it
    // leaves behind is at least as good (guide §1.1: the "ideal" plan
    // lost to the measured one).
    val groups = nearDupGroups(s, dir)
    val out = Materialize(nearDupSurvivorsWeighted(docs, groups))
    groups.unpersist()
    out
  }

  // ------------------------------------------------------------ incremental
  /** Incremental-ingest dedup — the daily-batch shape of a living corpus:
    * an arriving batch (here: `source == batchSource`) is deduplicated
    * against the existing corpus AND within itself (earlier doc_id wins),
    * without ever re-deduplicating the corpus. Exact on normalized md5,
    * hence oracle-checked.
    *
    * Scale shape: both sides reduce to hashes before any join — the corpus
    * side to a DISTINCT hash set, the batch side windowed per hash — so the
    * exchanges carry 32-byte digests, never document bodies, and the corpus
    * is scanned once with only (source, text) read. The corpus hash set at
    * 100 TB doesn't broadcast; the hash-equi shuffle join is the plan, with
    * both sides partitioned on the same key.
    */
  def incremental(s: SparkSession, dir: String, batchSource: String = "src19"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = Tables(s, dir).documents
      .select(col("doc_id"), col("source"), md5(norm(col("text"))).as("text_md5"))
    val batch = hashed.filter(col("source") === batchSource)
    val corpus = hashed.filter(col("source") =!= batchSource)
      .select(col("text_md5")).distinct()
      .withColumn("in_corpus", lit(1L))
    val firstInBatch = Window.partitionBy(col("text_md5"))
    val flagged = batch
      .join(corpus, Seq("text_md5"), "left")
      .withColumn("dup_of_corpus", coalesce(col("in_corpus"), lit(0L)))
      .withColumn("dup_in_batch",
        when(min(col("doc_id")).over(firstInBatch) < col("doc_id"), 1L).otherwise(0L))
    flagged
      .select(col("doc_id"), col("text_md5"), col("dup_of_corpus"), col("dup_in_batch"),
        when(col("dup_of_corpus") === 0 && col("dup_in_batch") === 0, 1L)
          .otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ minhash index / incremental near-dup
  /** (doc_id, hs, sig) for a document frame — the unit the signature index
    * persists. Same kernels, same geometry discipline as [[minhashLsh]]
    * (word-count guard at the scan, HashedNgrams → MinHashSig compiled
    * chain, repartition barriers around the heavy projections), so buckets
    * sliced later from a persisted sig are bit-identical to inline banding.
    * hs (the SORTED hashed shingle set) rides along because candidate
    * verification needs it — persisting it is what lets an incremental run
    * verify against the corpus without ever re-reading corpus text.
    */
  private def signatures(s: SparkSession, docs0: DataFrame,
      numHashes: Int): DataFrame =
    docs0
      .filter(size(words(col("text"))) >= 2)
      .repartition(spread(s), col("doc_id"))
      .select(col("doc_id"),
        hashed_ngrams(words(col("text")), 2, P, distinct = true).as("hs"))
      .repartition(spread(s), col("doc_id"))
      .withColumn("sig", minhash_sig(col("hs"), numHashes, P))
      .select(col("doc_id"), col("hs"), col("sig"))

  /** Persist the MinHash signature index for a corpus. At 100 TB the index
    * is ~(distinct shingles + numHashes) longs per doc — a small fraction
    * of the text it summarizes — and it is the ONLY thing an arriving
    * batch ever has to join against: corpus text is scanned once, at index
    * build, and never again.
    */
  def saveMinhashIndex(s: SparkSession, corpus: DataFrame, path: String,
      numHashes: Int = DefaultNumHashes): Unit = {
    signatures(s, corpus, numHashes).write.mode("overwrite").parquet(path)
    val conf = s.sparkContext.hadoopConfiguration
    // rebuild = clean slate: tombstones belong to the previous build
    val ts = new org.apache.hadoop.fs.Path(minhashTombstonePath(path))
    ts.getFileSystem(conf).delete(ts, true)
    // ...and so does the streaming replay-protocol state: a stale
    // watermark/marker set from the previous generation would answer
    // "already committed" for a fresh checkpoint's batch ids, silently
    // dropping their docs from the rebuilt index (the saveIndex
    // clean-slate rule, applied to this family too)
    val mb = new org.apache.hadoop.fs.Path(s"${path}_batches")
    mb.getFileSystem(conf).delete(mb, true)
    ()
  }

  /** The persisted signatures with any [[removeFromMinhashIndex]]
    * tombstones already anti-joined away — consumers never see deleted
    * docs. The tombstone file lives at a SIBLING path (`<path>_tombstones`)
    * because the index path itself must stay a pure parquet dataset the
    * plain append of [[appendToMinhashIndex]] can keep writing into.
    */
  def loadMinhashIndex(s: SparkSession, path: String): DataFrame =
    Similarity.applyTombstones(s, s.read.parquet(path),
      minhashTombstonePath(path), "doc_id")

  private def minhashTombstonePath(path: String): String = s"${path}_tombstones"

  /** An empty signature frame with the index schema — the bootstrap
    * "index" a first streaming batch near-dup-checks against (within-batch
    * duplicates are still detected; there is just no corpus side yet).
    */
  def emptyMinhashIndex(s: SparkSession,
      numHashes: Int = DefaultNumHashes): DataFrame =
    signatures(s, s.range(0).select(col("id").as("doc_id"),
      lit("").as("text")), numHashes)

  /** Delete documents from the signature index without rewriting it —
    * the takedown shape ([[graft.ops.Similarity.removeFromIndex]]'s
    * discipline): append ids to the tombstone file, O(|removed|) per
    * delete; [[loadMinhashIndex]] filters them on every read and
    * [[compactMinhashIndex]] folds them into the physical table.
    * Signatures are content-derived per doc, so the tombstoned index is
    * EXACTLY the index built without those docs (spec-pinned).
    */
  def removeFromMinhashIndex(s: SparkSession, path: String,
      removedIds: DataFrame): Unit =
    removedIds.select(col("doc_id")).write.mode("append")
      .parquet(minhashTombstonePath(path))

  /** Nightly-append hygiene for the signature index: fold tombstones into
    * the physical table and bound the file count that daily
    * [[appendToMinhashIndex]] folds accumulate (one file per writer task
    * per append — 30 appends of small batches is ~30+ footers every batch
    * join re-opens). One [[graft.ops.Layout.compactFlat]] rewrite, staged
    * and atomically swapped; returns (files_before, files_after, live_rows).
    * Frames loaded BEFORE compaction are lazy views over the replaced
    * files (tombstone file included) — re-load after maintenance.
    */
  def compactMinhashIndex(s: SparkSession, path: String,
      maxRecordsPerFile: Long = 1L * 1024 * 1024): (Long, Long, Long) = {
    // dropDuplicates folds any at-least-once re-appends (the streaming
    // ingest sink's crash window): signatures are content-derived, so a
    // doc's duplicate rows are identical and keeping one is lossless
    val audit = graft.ops.Layout.compactFlat(s, path, col("doc_id"),
      maxRecordsPerFile,
      source = Some(loadMinhashIndex(s, path).dropDuplicates("doc_id")))
    val ts = new org.apache.hadoop.fs.Path(minhashTombstonePath(path))
    ts.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ts, true)
    // fold the streaming ingest sink's contiguous committed replay markers
    // into the watermark — compaction just dedup'd any pre-marker crash
    // leftovers, so a folded id's replay must (and does) still skip
    graft.streaming.Streams.advanceWatermark(s, path)
    audit
  }

  /** [[incremental]]'s daily-batch discipline lifted from exact hashes to
    * MinHash near-dups: an arriving batch is near-dup-checked against the
    * persisted corpus index AND within itself, without re-shingling or
    * re-banding the corpus. Only the batch is shingled and signed; the
    * corpus side's buckets are sliced from its stored signatures
    * ([[bandBuckets]] is shared with [[minhashLsh]], so the bucket values
    * agree bit-for-bit) and its stored shingle sets feed verification.
    *
    * Scale shape: per batch the work is |batch| shingling + one hash-equi
    * join of the batch's bands against the index's bands (the index side
    * prunes to matching (band, bucket) keys — a shuffle of bucket ids, not
    * documents), then exact verification of candidates only. Appending the
    * surviving batch signatures to the index (plain parquet append of the
    * [[signatures]] frame) keeps it current — the same frozen-artifact
    * discipline as [[graft.ops.Similarity.appendToIndex]].
    *
    * Output: (d1, d2, jaccard) with d1 < d2, ≥1 side in the batch,
    * jaccard ≥ 0.7 — exactly [[minhashLsh]]'s full-corpus output restricted
    * to pairs touching the batch (DedupSpec pins the equality).
    */
  def minhashIncremental(s: SparkSession, batch: DataFrame, index: DataFrame,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands): DataFrame =
    // the (d1, d2) sort is this PUBLIC form's output contract (the gate
    // entry); composing consumers (the component fold, the ingest sinks'
    // pair parquet) read the unsorted body — they aggregate or bulk-write
    // the pair set, so the global range-sort is discarded work (the
    // minhashLsh/minhashPairs split, applied to the incremental tier)
    minhashIncrementalPairs(s, batch, index, numHashes, bands)
      .orderBy(col("d1"), col("d2"))

  /** [[minhashIncremental]] without the output sort — the form composing
    * consumers read.
    */
  private[graft] def minhashIncrementalPairs(s: SparkSession, batch: DataFrame,
      index: DataFrame, numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    // ONE materialization of the batch's prepared (doc_id, hs, sig) frame
    // feeds all three consumers (banding and both verify-join sides) — the
    // [[minhashPairsFromHs]] discipline. The repartition-barrier
    // formulation this replaces assumed the consumers would collapse onto
    // one ReusedExchange; the r13 profile showed the batch re-shingled per
    // consumer instead (the broadcast build sides re-derive the chain
    // independently), 18.8 s task-CPU in the candidate/verify join job of
    // dedup_components_incremental for work whose single pass costs ~3 s.
    val prepared = Materialize(batch
      .filter(size(words(col("text"))) >= 2)
      .repartition(spread(s), col("doc_id"))
      .select(col("doc_id"),
        hashed_ngrams(words(col("text")), 2, P, distinct = true).as("hs"))
      .withColumn("sig", minhash_sig(col("hs"), numHashes, P)))
    val newBand = bandBuckets(
      prepared.select(col("doc_id"), col("sig")), numHashes, bands)
    // batch ⋈ (index ∪ batch): every candidate pair touches ≥1 batch doc by
    // construction; least/greatest + distinct collapses the double-counted
    // batch-batch matches and the per-band candidate copies in one exchange
    val allBand = bandBuckets(index, numHashes, bands).unionByName(newBand)
    val cand = newBand.as("a").join(allBand.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    val hs = index.select(col("doc_id"), col("hs"))
      .unionByName(prepared.select(col("doc_id"), col("hs")))
    cand
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("s1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.jaccard_hashed(col("s1"), col("s2")).as("jaccard"))
      .filter(col("jaccard") >= 0.7)
  }

  /** Fold a processed batch into the signature index — the step that keeps
    * the index current between daily runs. Plain parquet append of the
    * batch's [[signatures]] frame: signatures are content-derived and
    * frozen (no retraining, nothing recomputed for existing rows), the
    * [[graft.ops.Similarity.appendToIndex]] discipline. Appending the
    * FULL batch (not just near-dup survivors) is the usual choice — the
    * next batch must near-dup against everything already ingested;
    * dropping rows is a curation decision downstream of detection.
    */
  def appendToMinhashIndex(s: SparkSession, batch: DataFrame, path: String,
      numHashes: Int = DefaultNumHashes): Unit = {
    signatures(s, batch, numHashes).write.mode("append").parquet(path)
    // a re-added doc_id must RESURFACE: clear any tombstone a previous
    // takedown left for ids this batch legitimately re-ingests (the
    // tombstone file is deleted-ids-only — tiny — so this rewrite is
    // driver-scale)
    Similarity.clearTombstones(s, minhashTombstonePath(path),
      batch.select(col("doc_id")), "doc_id")
  }

  // the corpus index is built + persisted ONCE per (session, corpus) and
  // every later call reads it back, so the gate/bench entry times what an
  // incremental ingest actually pays per batch
  private val minhashIndexMemo = new SessionMemo[String, DataFrame]

  /** Gate/bench form: the batch is a deterministic 1/4 slice of documents
    * (doc_id % 4 == 0 — the testdata's near-dup twins are uniform over ids,
    * so the slice crosses real pairs; a source-keyed batch would see zero),
    * the index is the persisted signature frame of the other 3/4.
    */
  def minhashIncremental(s: SparkSession, dir: String): DataFrame = {
    minhashIncremental(s,
      Tables(s, dir).documents.filter(col("doc_id") % 4 === 0),
      persistedMinhashIndex(s, dir))
  }

  private def persistedMinhashIndexPath(s: SparkSession, dir: String): String =
    SessionMemo.scratchPath(s, "graft_minhash_index", dir)

  /** The session's persisted 3/4-corpus signature index (built once per
    * (session, corpus), read back after) — shared by the incremental gate
    * entry and the index inventory.
    */
  private def persistedMinhashIndex(s: SparkSession, dir: String): DataFrame =
    minhashIndexMemo(s, dir) {
      val path = persistedMinhashIndexPath(s, dir)
      saveMinhashIndex(s,
        Tables(s, dir).documents.filter(col("doc_id") % 4 =!= 0), path)
      loadMinhashIndex(s, path)
    }

  // ---------------------------------------------- embedding index / incremental
  /** Persist the EMBEDDING near-dup index: raw vectors plus their
    * materialized hyperplane buckets — [[saveMinhashIndex]]'s discipline
    * for the vector tier. Buckets are recomputable (the kernel's planes
    * are hash-derived constants), but materializing them is the point:
    * an arriving batch then never rescans or re-hashes corpus vectors —
    * it joins its own freshly-hashed buckets against stored bucket ids
    * (16-byte rows) and pulls corpus vectors only for the candidates
    * verification actually touches.
    */
  def saveEmbeddingIndex(s: SparkSession, vectors: DataFrame, path: String,
      numTables: Int = Similarity.DefaultTables,
      bits: Int = Similarity.DefaultBits): Unit = {
    val e = vectors.select(col("vec_id"), col("embedding"))
    e.write.mode("overwrite").parquet(s"$path/vectors")
    Similarity.lshBuckets(e, 64, numTables, bits)
      .write.mode("overwrite").parquet(s"$path/buckets")
    // the artifact declares its OWN geometry — appends and audits read it
    // from here instead of trusting a caller parameter (a mistyped append
    // would otherwise write foreign-geometry buckets into the candidate
    // join: same schema, silently missing candidates — the failure class
    // the ANN index's _ann_spec stamp closed)
    writeEmbeddingGeometry(s, path, numTables, bits)
    val conf = s.sparkContext.hadoopConfiguration
    // rebuild = clean slate: tombstones belong to the previous build
    val ts = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    ts.getFileSystem(conf).delete(ts, true)
    // ...and so does the replay-protocol state: a stale watermark/marker
    // set would answer "already committed" for a FRESH checkpoint's batch
    // ids 0..N, silently dropping their vectors from the rebuilt index —
    // the saveIndex clean-slate rule ([[maybeRebuildEmbeddingIndex]]
    // deliberately does NOT route through here: an in-place regeometry
    // keeps the live stream's protocol state, the retrainIndex argument)
    val mb = new org.apache.hadoop.fs.Path(s"${path}_batches")
    mb.getFileSystem(conf).delete(mb, true)
    ()
  }

  private def embGeometryPath(path: String) = s"$path/_geometry"

  private def writeEmbeddingGeometry(s: SparkSession, path: String,
      numTables: Int, bits: Int): Unit =
    graft.Inputs.writeStamp(s, embGeometryPath(path), s"$numTables $bits")

  /** The embedding index's declared (numTables, bits) — absent file (an
    * artifact predating the flag, or a streaming bootstrap that has only
    * ever appended) reads as the library defaults, which is what those
    * artifacts were built with.
    */
  def embeddingIndexGeometry(s: SparkSession, path: String): (Int, Int) =
    graft.Inputs.readStamp(s, embGeometryPath(path)).fold(
        (Similarity.DefaultTables, Similarity.DefaultBits)) { txt =>
      val Array(t, b) = txt.trim.split("\\s+")
      (t.toInt, b.toInt)
    }

  /** Zero-row (vectors, buckets) with the persisted schemas — what batch
    * 0 of a streaming ingest bootstraps on ([[emptyMinhashIndex]]'s twin);
    * derived from the real builders over an empty frame so the schemas
    * can never drift.
    */
  def emptyEmbeddingIndex(s: SparkSession): (DataFrame, DataFrame) = {
    val e = s.range(0).select(col("id").as("vec_id"),
      array().cast("array<float>").as("embedding"))
    (e, Similarity.lshBuckets(e, 64))
  }

  /** (vectors, buckets) — pass both to [[embeddingIncremental]]. Both
    * frames come back with any [[removeFromEmbeddingIndex]] tombstones
    * anti-joined away, so a deleted vector neither generates candidates
    * (buckets) nor serves verification (vectors).
    */
  def loadEmbeddingIndex(s: SparkSession, path: String): (DataFrame, DataFrame) = {
    val ts = s"$path/tombstones.parquet"
    (Similarity.applyTombstones(s, s.read.parquet(s"$path/vectors"), ts, "vec_id"),
      Similarity.applyTombstones(s, s.read.parquet(s"$path/buckets"), ts, "vec_id"))
  }

  /** Tombstone delete for the embedding index — one id list covers both
    * the vectors and buckets tables ([[loadEmbeddingIndex]] filters both);
    * [[compactEmbeddingIndex]] folds it into the physical files.
    */
  def removeFromEmbeddingIndex(s: SparkSession, path: String,
      removedIds: DataFrame): Unit =
    removedIds.select(col("vec_id")).write.mode("append")
      .parquet(s"$path/tombstones.parquet")

  /** Append hygiene for the embedding index: compact BOTH grown tables
    * (vectors and buckets) with tombstones folded in, then drop the
    * tombstone file. Returns the two audits as
    * ((files_before, files_after, rows) vectors, (..) buckets).
    */
  def compactEmbeddingIndex(s: SparkSession, path: String,
      maxRecordsPerFile: Long = 1L * 1024 * 1024)
      : ((Long, Long, Long), (Long, Long, Long)) = {
    val (vecs, buckets) = loadEmbeddingIndex(s, path)
    // dropDuplicates folds any at-least-once re-appends (the streaming
    // ingest sink's crash window) — the compactMinhashIndex argument:
    // embeddings and buckets are content-derived per vec_id, so a
    // duplicated row is identical and keeping one is lossless. Without
    // this, replay duplicates would persist forever and every later
    // embeddingIncremental verification join would emit duplicated pairs.
    val av = graft.ops.Layout.compactFlat(s, s"$path/vectors", col("vec_id"),
      maxRecordsPerFile, source = Some(vecs.dropDuplicates("vec_id")))
    val ab = graft.ops.Layout.compactFlat(s, s"$path/buckets", col("vec_id"),
      maxRecordsPerFile,
      source = Some(buckets.dropDuplicates("vec_id", "tbl", "bucket")))
    val ts = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    ts.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ts, true)
    // the streaming ingest sink's replay markers: fold the contiguous
    // committed prefix into the watermark so <path>_batches stays bounded
    // (safe here because duplicates a pre-marker crash left behind were
    // just dropDuplicates'd away — a replay of a folded id still skips)
    graft.streaming.Streams.advanceWatermark(s, path)
    (av, ab)
  }

  /** Fold a processed batch into the embedding index (plain parquet
    * appends, nothing recomputed) — [[appendToMinhashIndex]]'s twin.
    * The geometry (numTables, bits) must match the index's build
    * geometry, as with every LSH artifact here.
    */
  def appendToEmbeddingIndex(s: SparkSession, batch: DataFrame,
      path: String): Unit = {
    // the ARTIFACT declares the bucket geometry — no caller parameter to
    // mistype (a streaming bootstrap that has only ever appended stamps
    // the defaults on first touch, so the artifact is self-describing
    // from batch 0)
    val (numTables, bits) = embeddingIndexGeometry(s, path)
    val gp = new org.apache.hadoop.fs.Path(embGeometryPath(path))
    if (!gp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(gp))
      writeEmbeddingGeometry(s, path, numTables, bits)
    val e = batch.select(col("vec_id"), col("embedding"))
    e.write.mode("append").parquet(s"$path/vectors")
    Similarity.lshBuckets(e, 64, numTables, bits)
      .write.mode("append").parquet(s"$path/buckets")
    // re-added vec_ids resurface (the appendToMinhashIndex discipline)
    Similarity.clearTombstones(s, s"$path/tombstones.parquet",
      e.select(col("vec_id")), "vec_id")
  }

  /** The monitor→action decision for the embedding index —
    * [[graft.ops.Similarity.maybeRetrain]]'s twin, driven by the
    * §6 candidate-economics rule the bucket audit polices: when the live
    * corpus outgrows the built geometry (recommendedBits(n) > built
    * bits), regeometry IN PLACE — rebucket the live vectors at the
    * recommended width (one lshBuckets pass), fold tombstones physically,
    * stamp the new geometry. Vectors rewrite too (tombstone fold rides
    * along), both through [[graft.ops.Layout.rewriteInPlace]] staging.
    * The replay-protocol state is deliberately KEPT (the live stream
    * continues on its checkpoint's monotone batch ids — the retrainIndex
    * argument; a replayed batch re-appends content-derived rows that
    * compaction dedups, exactly as before the regeometry).
    */
  def maybeRebuildEmbeddingIndex(s: SparkSession, path: String,
      targetBucket: Long = 128): Boolean = {
    val (vecs, _) = loadEmbeddingIndex(s, path)
    val live = vecs.persist()
    try {
      val n = live.count()
      val (tables, bits) = embeddingIndexGeometry(s, path)
      val rec = recommendedBits(n, targetBucket)
      if (rec <= bits) false
      else {
        graft.ops.Layout.rewriteInPlace(s, s"$path/vectors")(
          live.write.parquet(_))
        graft.ops.Layout.rewriteInPlace(s, s"$path/buckets")(stg =>
          Similarity.lshBuckets(live, 64, tables, rec).write.parquet(stg))
        writeEmbeddingGeometry(s, path, tables, rec)
        val ts = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
        ts.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ts, true)
        true
      }
    } finally { live.unpersist(); () }
  }

  /** [[minhashIncremental]]'s daily-batch discipline on the EMBEDDING
    * tier: an arriving batch of vectors is near-dup-checked against the
    * persisted index AND within itself without re-bucketing the corpus.
    * Only the batch runs the hyperplane kernel; the corpus side
    * contributes stored (tbl, bucket) ids to the candidate join and
    * stored vectors to verification of candidates only. Output:
    * (v1, v2, cosine) with v1 < v2, ≥1 side in the batch, cosine ≥ tau —
    * exactly [[embeddingLsh]]'s full-corpus output restricted to pairs
    * touching the batch (DedupSpec pins the equality).
    */
  def embeddingIncremental(s: SparkSession, batch: DataFrame,
      indexVectors: DataFrame, indexBuckets: DataFrame, tau: Double = 0.4,
      numTables: Int = Similarity.DefaultTables,
      bits: Int = Similarity.DefaultBits): DataFrame = {
    val be = batch.select(col("vec_id"), col("embedding"))
    val bb = Similarity.lshBuckets(be, 64, numTables, bits)
    val allB = indexBuckets.unionByName(bb)
    val cand = bb.as("a").join(allB.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("v1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("v2"))
      .distinct()
    val vecs = indexVectors.select(col("vec_id"), col("embedding")).unionByName(be)
    cand
      .join(vecs.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(vecs.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .select(col("v1"), col("v2"), cosine_sim(col("e1"), col("e2")).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("v1"), col("v2"))
  }

  private val embIndexMemo = new SessionMemo[String, (DataFrame, DataFrame)]

  private def persistedEmbIndexPath(s: SparkSession, dir: String): String =
    SessionMemo.scratchPath(s, "graft_emb_index", dir)

  /** The session's persisted 3/4-corpus embedding index (built once per
    * (session, corpus), served from disk after) — shared by the
    * incremental gate entry and the bucket audit.
    */
  private def persistedEmbIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    embIndexMemo(s, dir) {
      val path = persistedEmbIndexPath(s, dir)
      saveEmbeddingIndex(s,
        Tables(s, dir).embeddings.filter(col("vec_id") % 4 =!= 0), path)
      loadEmbeddingIndex(s, path)
    }

  /** Gate/bench form — the [[minhashIncremental]] slice discipline on
    * vectors: batch = vec_id % 4 == 0, index = the persisted other 3/4.
    */
  def embeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val (vecs, buckets) = persistedEmbIndex(s, dir)
    embeddingIncremental(s,
      Tables(s, dir).embeddings.filter(col("vec_id") % 4 === 0), vecs, buckets)
  }

  // ---------------------------------------------------- index bucket audit
  /** Candidate-economics audit over an LSH bucket frame — the measured
    * form of the "grow bits with log₂N" geometry rule (SURVEY §6/§8),
    * and the dedup twin of the ANN occupancy-drift signal: per hash
    * table, the comparisons the geometry actually schedules
    * (Σ|b|·(|b|−1)/2), the fattest bucket, and the candidate rate vs
    * all-pairs. Read it after nightly appends the way compaction audits
    * file counts — a rising rate means the ingest distribution is
    * concentrating buckets or N outgrew the bit width; either way the
    * remedy is a [[recommendedBits]] bump + rebuild (bucket ids are
    * geometry-bound, so a bits change is a rebuild event, like an ANN
    * retrain). One groupBy over (tbl, bucket) id rows — never touches
    * vectors, cost ∝ index rows.
    */
  def bucketAudit(buckets: DataFrame): DataFrame =
    buckets.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("n"))
      .groupBy(col("tbl"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(col("n") * (col("n") - 1)).cast("long").as("cand2x"))
      .select(col("tbl"), col("n_rows"), col("n_buckets"), col("max_bucket"),
        (col("cand2x") / 2).cast("long").as("candidate_pairs"),
        (col("cand2x").cast("double")
          / (col("n_rows").cast("double") * (col("n_rows") - 1).cast("double")))
          .as("candidate_rate"))
      .orderBy(col("tbl"))

  /** Bit width that keeps E|bucket| ≈ targetBucket at corpus size n —
    * the §8 formula as API, so the audit's remedy is one call away.
    */
  def recommendedBits(n: Long, targetBucket: Long = 128): Int =
    math.max(Similarity.DefaultBits,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
        / math.log(2)).toInt)

  /** [[bucketAudit]] over a persisted embedding index's bucket table
    * (tombstones applied — the audit sees what candidate generation
    * sees). */
  def auditEmbeddingIndex(s: SparkSession, path: String): DataFrame =
    bucketAudit(loadEmbeddingIndex(s, path)._2)

  /** Gate/bench form (rows-only — bucket ids are hash-derived): audit
    * the session's persisted 3/4-corpus index, one row per hash table.
    */
  def indexBucketAudit(s: SparkSession, dir: String): DataFrame = {
    persistedEmbIndex(s, dir)
    auditEmbeddingIndex(s, persistedEmbIndexPath(s, dir))
  }

  // ---------------------------------------------------- index inventory
  private def parquetFileCount(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet")).toLong
  }

  private def distinctIds(s: SparkSession, dir: String, idCol: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)) 0L
    else s.read.parquet(dir).select(col(idCol)).distinct().count()
  }

  /** One-row operational inventory of a dedup index —
    * [[graft.ops.Similarity.describeIndex]]'s discipline for the near-dup
    * artifacts, sharing one schema across both families so an ops
    * dashboard unions them: family, live vs tombstoned id counts,
    * physical file count across the family's data tables (the compaction
    * signal — nightly appends grow one file per writer task per batch),
    * and the streaming replay-protocol state (committed-batch watermark +
    * still-open marker count). Cost: column-pruned distincts over id
    * columns plus driver-side listings — audit-priced, never touches text
    * or vectors.
    */
  def describeMinhashIndex(s: SparkSession, path: String): DataFrame =
    dedupInventoryRow(s, "minhash", path,
      live = loadMinhashIndex(s, path).select(col("doc_id")).distinct().count(),
      tombstoned = distinctIds(s, minhashTombstonePath(path), "doc_id"),
      dataFiles = parquetFileCount(s, path))

  /** [[describeMinhashIndex]] for the embedding index — `data_files`
    * spans BOTH its tables (vectors + buckets), since compaction rewrites
    * both.
    */
  def describeEmbeddingIndex(s: SparkSession, path: String): DataFrame =
    dedupInventoryRow(s, "embedding", path,
      live = loadEmbeddingIndex(s, path)._1.select(col("vec_id"))
        .distinct().count(),
      tombstoned = distinctIds(s, s"$path/tombstones.parquet", "vec_id"),
      dataFiles = parquetFileCount(s, s"$path/vectors")
        + parquetFileCount(s, s"$path/buckets"))

  private def dedupInventoryRow(s: SparkSession, family: String, path: String,
      live: Long, tombstoned: Long, dataFiles: Long): DataFrame = {
    import s.implicits._
    val wm = graft.streaming.Streams.committedWatermark(s, path)
    val markerDir = new org.apache.hadoop.fs.Path(s"${path}_batches")
    val fs = markerDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val openMarkers =
      if (!fs.exists(markerDir)) 0L
      else fs.listStatus(markerDir)
        .count(_.getPath.getName.matches("\\d+")).toLong
    Seq((family, live, tombstoned, dataFiles, wm, openMarkers))
      .toDF("family", "live_ids", "tombstoned", "data_files",
        "batch_watermark", "open_markers")
  }

  /** Gate/bench form (rows-only — artifact state is engine-internal):
    * the two-row inventory of the session's persisted dedup indexes, one
    * row per family.
    */
  def dedupIndexReport(s: SparkSession, dir: String): DataFrame = {
    persistedMinhashIndex(s, dir)
    persistedEmbIndex(s, dir)
    describeMinhashIndex(s, persistedMinhashIndexPath(s, dir))
      .unionByName(describeEmbeddingIndex(s, persistedEmbIndexPath(s, dir)))
      .orderBy(col("family"))
  }

  // ------------------------------------------------------------ fuzzy decontamination
  /** Cross-corpus fuzzy decontamination: flag TRAINING docs that are
    * MinHash near-duplicates of any BENCHMARK doc — the paraphrase-robust
    * sibling of [[graft.ops.TextAnalysis.decontaminate]] (exact k-gram
    * overlap). A benchmark item lightly rewritten into a training page
    * shares few exact 13-grams but keeps a high shingle-set Jaccard, which
    * is exactly the signal MinHash banding surfaces.
    *
    * Scale shape: each side is shingled+signed once with [[minhashLsh]]'s
    * compiled kernels and shared [[bandBuckets]] (filter-then-shingle, the
    * [[graft.ops.TextAnalysis.decontaminate]] discipline — the two
    * branches cover disjoint docs, so the corpus is shingled once in
    * total, and a persisted [[saveMinhashIndex]] frame could feed either
    * side). The candidate join is band-bucket equi against the BENCHMARK
    * side only, and benchmark suites are MBs while the corpus is the
    * 100 TB side — so the bench bands and shingle sets broadcast, candidate
    * work is Σ_buckets |train bucket|·|bench bucket| with the bench factor
    * bounded, and exact Jaccard verifies candidates only. No train×train
    * pair is ever considered, which is what separates this from running
    * [[minhashLsh]] over the union.
    *
    * Output: one row per contaminated train doc — its strongest benchmark
    * match (ties broken toward the larger bench id, deterministically),
    * the verified jaccard, and how many benchmark docs it matched.
    */
  def decontaminateFuzzy(s: SparkSession, docsDf: DataFrame,
      isBenchmark: Column, threshold: Double = 0.7,
      numHashes: Int = DefaultNumHashes, bands: Int = DefaultBands): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val bench = signatures(s, docsDf.filter(isBenchmark), numHashes)
    val train = signatures(s, docsDf.filter(!isBenchmark), numHashes)
    val benchBand = bandBuckets(bench.select(col("doc_id"), col("sig")),
      numHashes, bands)
    val trainBand = bandBuckets(train.select(col("doc_id"), col("sig")),
      numHashes, bands)
    val cand = trainBand.as("a").join(broadcast(benchBand).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("train_id"), col("b.doc_id").as("bench_id"))
      .distinct()
    cand
      .join(train.select(col("doc_id").as("train_id"), col("hs").as("s1")),
        "train_id")
      .join(broadcast(bench.select(col("doc_id").as("bench_id"),
        col("hs").as("s2"))), "bench_id")
      .select(col("train_id"), col("bench_id"),
        graft.functions.jaccard_hashed(col("s1"), col("s2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("train_id"))
      .agg(max(struct(col("jaccard"), col("bench_id"))).as("best"),
        count(lit(1)).as("n_matches"))
      .select(col("train_id"), col("best.bench_id").as("bench_id"),
        col("best.jaccard").as("jaccard"), col("n_matches"))
      .orderBy(col("train_id"))
  }

  /** Gate form: the same benchmark split as the exact-overlap entry
    * (doc_id % 11 — crosses the testdata's planted near-dup pairs). */
  def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame =
    decontaminateFuzzy(s, Tables(s, dir).documents, col("doc_id") % 11 === 0)

  // =================================================================
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> (exact _),
    "dedup_normalized"    -> (normalized _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_containment"   -> (containment _),
    "dedup_minhash_lsh"   -> ((s: SparkSession, dir: String) => minhashLsh(s, dir)),
    "dedup_simhash"       -> (simhash _),
    "dedup_embedding"     -> (embedding _),
    "dedup_components"    -> ((s: SparkSession, dir: String) => nearDupGroups(s, dir)),
    "dedup_survivors_weighted" -> (nearDupSurvivorsWeightedQ _),
    "dedup_embedding_lsh" -> ((s: SparkSession, dir: String) => embeddingLsh(s, dir)),
    "dedup_semantic"      -> ((s: SparkSession, dir: String) => semantic(s, dir)),
    "dedup_survivors"     -> ((s: SparkSession, dir: String) => nearDupSurvivors(s, dir)),
    "dedup_incremental"   -> ((s: SparkSession, dir: String) => incremental(s, dir)),
    "dedup_minhash_incremental" -> ((s: SparkSession, dir: String) => minhashIncremental(s, dir)),
    "text_decontaminate_fuzzy" -> ((s: SparkSession, dir: String) => decontaminateFuzzy(s, dir)),
    "dedup_embedding_incremental" -> ((s: SparkSession, dir: String) => embeddingIncremental(s, dir)),
    "dedup_index_audit" -> (indexBucketAudit _),
    "dedup_index_report" -> (dedupIndexReport _),
    "dedup_tune_bands" -> (dedupTuneBands _),
    "dedup_tune_embedding" -> (dedupTuneEmbedding _),
    "dedup_components_incremental" -> (dedupComponentsIncremental _))

  /** dedup_minhash_lsh / dedup_simhash are rows-only: signatures depend on
    * engine-internal hashes (xxhash64/murmur); DedupSpec pins their recall
    * against the exact oracles instead.
    */
  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  COUNT(*) OVER (PARTITION BY md5(text)) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_normalized" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_md5,
        |  MIN(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS canonical_id,
        |  COUNT(*) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [list_extract(ws, i) || ' ' || list_extract(ws, i+1) for i in range(1, len(ws))]) AS sh
        |  FROM w),
        |ex AS (SELECT doc_id, unnest(sh) AS sh FROM sh),
        |n AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM sh),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        |  CAST(inter AS DOUBLE) / CAST(n1.n + n2.n - inter AS DOUBLE) AS jaccard
        |FROM inter JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |ORDER BY jaccard DESC, d1, d2 LIMIT 50""".stripMargin,
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [list_extract(ws, i) || ' ' || list_extract(ws, i+1) for i in range(1, len(ws))]) AS sh
        |  FROM w),
        |ex AS (SELECT doc_id, unnest(sh) AS sh FROM sh),
        |n AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM sh),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        |  GREATEST(CAST(inter AS DOUBLE) / CAST(n1.n AS DOUBLE),
        |           CAST(inter AS DOUBLE) / CAST(n2.n AS DOUBLE)) AS containment
        |FROM inter JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |ORDER BY containment DESC, d1, d2 LIMIT 50""".stripMargin,
    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)),
        |    (x, y) -> x + y)) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  list_reduce(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (a.nrm * b.nrm) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (a.nrm * b.nrm) >= 0.4
        |ORDER BY v1, v2""".stripMargin,
    "dedup_incremental" ->
      """WITH h AS (SELECT doc_id, source,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_md5
        |  FROM documents),
        |b AS (SELECT doc_id, text_md5 FROM h WHERE source = 'src19'),
        |c AS (SELECT DISTINCT text_md5 FROM h WHERE source <> 'src19'),
        |m AS (SELECT b.doc_id, b.text_md5,
        |    CAST(CASE WHEN c.text_md5 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS dup_of_corpus,
        |    CAST(CASE WHEN MIN(b.doc_id) OVER (PARTITION BY b.text_md5) < b.doc_id
        |      THEN 1 ELSE 0 END AS BIGINT) AS dup_in_batch
        |  FROM b LEFT JOIN c USING (text_md5))
        |SELECT doc_id, text_md5, dup_of_corpus, dup_in_batch,
        |  CAST(CASE WHEN dup_of_corpus = 0 AND dup_in_batch = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)
}
