package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Text analysis for training-data pipelines (SURVEY §2.E): language ID,
  * quality scoring, token counting, and content fingerprinting over the
  * `documents` table.
  *
  * Everything is built from codegen'd Catalyst expressions (`split`,
  * `regexp_*`, higher-order `filter`/`transform`/`aggregate`) — no UDFs, so
  * at 100 TB each query is a single scan + map with column pruning down to
  * (doc_id, text); the only shuffle is the oracle-determinism sort, which a
  * real pipeline drops.
  *
  * Cross-engine determinism: all ratios are int/int divisions in double;
  * the fingerprint fold keeps its accumulator under 2^40 so the modular
  * arithmetic is exact BIGINT math in both Spark and DuckDB.
  */
object TextAnalysis {

  /** documents spread over all cores: the interpreted HOF pipelines below
    * are CPU-bound, and a small parquet otherwise arrives as ONE partition
    * that serializes them (AQE's size-based coalescing would do the same to
    * an unsized repartition, hence the explicit count). At 100 TB the scan
    * arrives pre-split and this shuffle of (doc_id, text) is noise.
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** Whitespace tokens of the trimmed text. */
  private[graft] def words(c: Column): Column = split(trim(c), "\\s+")

  /** Word bigrams ("w1 w2") via the compiled [[graft.functions.StringNgrams]]
    * kernel, optionally first-occurrence distinct; empty (not null) for
    * null and one-word texts.
    */
  private[graft] def bigrams(c: Column, distinct: Boolean = false): Column =
    coalesce(graft.functions.string_ngrams(words(c), 2, distinct),
      array().cast("array<string>"))

  private[graft] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopFr = Seq("le", "la", "de", "et", "un", "est", "dans")
  private val stopEs = Seq("el", "los", "de", "y", "un", "es", "en")
  private val stopDe = Seq("der", "die", "das", "und", "ein", "ist", "zu")

  private[graft] def hits(c: Column, stop: Seq[String]): Column =
    // compiled token-in-set count ([[graft.functions.CountIn]]) — value-
    // identical to the former size(filter(words, isInCollection)) HOF,
    // which walked an interpreted predicate tree per token (language id
    // pays this four times per row; FunctionsSpec pins the equality)
    graft.functions.count_in(words(c), stop)

  // ------------------------------------------------------------ token count
  /** Whitespace token count + a BPE-ish subword proxy: letter runs, single
    * digits, and individual punctuation marks each count as one token (the
    * GPT-2-style pre-tokenizer shape, minus the unicode categories).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast(LongType).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ quality
  /** Heuristic quality signals: length, punctuation density, stopword ratio
    * (fluency proxy), mean word length — and a blended score. The weighted
    * sum is fixed-order double arithmetic → bit-identical across engines.
    */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast(LongType)
    val nWords = size(words(col("text"))).cast(LongType)
    val nPunct = length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType)
    val nStop  = hits(col("text"), stopEn)
    val punctRatio = nPunct.cast(DoubleType) / nChars.cast(DoubleType)
    val stopRatio  = nStop.cast(DoubleType) / nWords.cast(DoubleType)
    val meanWordLen = nChars.cast(DoubleType) / nWords.cast(DoubleType)
    docs(s, dir)
      .select(col("doc_id"), nChars.as("n_chars"), nWords.as("n_words"),
        punctRatio.as("punct_ratio"), stopRatio.as("stop_ratio"),
        meanWordLen.as("mean_word_len"),
        (stopRatio * lit(0.5) + punctRatio * lit(0.25)
          + meanWordLen * lit(0.05)).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ quality classifier
  /** Weight vector for [[qualityClassifier]] — the trained artifact, fed as
    * a parameter like the ANN tiers' centroids/codebooks. The defaults are
    * a hand-fit stand-in (cut ≈ the sf0.01 margin median, so the gate entry
    * splits the corpus nontrivially); a real pipeline trains offline
    * (fastText / logistic regression on labeled pages) and feeds the
    * coefficients here.
    */
  case class QualityWeights(bias: Double = -1.0, wWords: Double = 0.002,
      wPunct: Double = 2.0, wStop: Double = 3.0, wMwl: Double = 0.05,
      wDigit: Double = -2.0, wUpper: Double = -1.0, cut: Double = -0.42)

  /** Fed-weights linear quality classifier — the "apply a trained filter
    * model at scale" stage (the CCNet/fastText-classifier shape). One scan
    * + map, no shuffle but the determinism sort; features are codegen'd
    * char-class counts and ratios.
    *
    * The margin is the raw linear score, evaluated in DECLARED feature
    * order (left-to-right double arithmetic → bit-identical across
    * engines, the [[quality]] discipline). No sigmoid: the logistic is
    * monotone, so p ≥ p₀ ⟺ margin ≥ logit(p₀) — `cut` IS the probability
    * threshold expressed in margin space, and skipping exp() keeps the
    * operator oracle-exact (text_surprisal measured the StrictMath-vs-libm
    * last-bit divergence that transcendentals would reintroduce).
    */
  def qualityClassifier(s: SparkSession, dir: String,
      w: QualityWeights = QualityWeights()): DataFrame = {
    val nChars = length(col("text")).cast(LongType)
    val nWords = size(words(col("text"))).cast(LongType)
    val nPunct = length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType)
    val nStop  = hits(col("text"), stopEn)
    val nDigit = length(regexp_replace(col("text"), "[^0-9]", "")).cast(LongType)
    val nUpper = length(regexp_replace(col("text"), "[^A-Z]", "")).cast(LongType)
    val margin = lit(w.bias) +
      nWords.cast(DoubleType) * lit(w.wWords) +
      (nPunct.cast(DoubleType) / nChars.cast(DoubleType)) * lit(w.wPunct) +
      (nStop.cast(DoubleType) / nWords.cast(DoubleType)) * lit(w.wStop) +
      (nChars.cast(DoubleType) / nWords.cast(DoubleType)) * lit(w.wMwl) +
      (nDigit.cast(DoubleType) / nChars.cast(DoubleType)) * lit(w.wDigit) +
      (nUpper.cast(DoubleType) / nChars.cast(DoubleType)) * lit(w.wUpper)
    docs(s, dir)
      .select(col("doc_id"), margin.as("margin"),
        when(margin >= lit(w.cut), 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The DuckDB twin of [[qualityClassifier]]'s margin, with the SAME
    * weight literals interpolated in the SAME term order. */
  private def classifierOracle(w: QualityWeights): String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(${sqlHits(stopEn)} AS BIGINT) AS n_stop,
       |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
       |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper
       |  FROM documents),
       |s AS (SELECT doc_id, ${w.bias}
       |  + CAST(n_words AS DOUBLE) * ${w.wWords}
       |  + (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * ${w.wPunct}
       |  + (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * ${w.wStop}
       |  + (CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)) * ${w.wMwl}
       |  + (CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE)) * ${w.wDigit}
       |  + (CAST(n_upper AS DOUBLE) / CAST(n_chars AS DOUBLE)) * ${w.wUpper} AS margin
       |  FROM m)
       |SELECT doc_id, margin,
       |  CAST(CASE WHEN margin >= ${w.cut} THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ language id
  /** Stopword-list n-gram heuristic language ID: count hits per language's
    * closed stopword set, argmax with a fixed priority order (en > fr > es >
    * de > unknown) for ties. A real pipeline swaps in larger lists; the
    * plan shape (scan + map) is the point.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val (en, fr, es, de) =
      (hits(t, stopEn), hits(t, stopFr), hits(t, stopEs), hits(t, stopDe))
    val top = greatest(en, fr, es, de)
    docs(s, dir)
      .select(col("doc_id"), en.as("c_en"), fr.as("c_fr"), es.as("c_es"), de.as("c_de"),
        when(top === lit(0L), "unknown")
          .when(en === top, "en").when(fr === top, "fr")
          .when(es === top, "es").otherwise("de").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ fingerprint
  /** Position-sensitive rolling document fingerprint: fold the word stream
    * through h' = (h*1000003 + (31*len(w) + ascii(w))) mod 2^40. Content
    * reorderings change it; whitespace normalization does not. The per-word
    * value is prepended as the fold seed in DuckDB (list_reduce has no init),
    * which matches Spark's 0-seeded fold exactly because (0*p + v) = v.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val M = 1099511627776L // 2^40: h*1000003 + v < 2^60 — exact in BIGINT
    val wordVals = transform(words(col("text")),
      w => (length(w).cast(LongType) * lit(31L) + ascii(w).cast(LongType)))
    docs(s, dir)
      .select(col("doc_id"),
        aggregate(wordVals, lit(0L),
          (h, v) => (h * lit(1000003L) + v) % lit(M)).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ ngram freq
  /** Corpus-wide top-25 word bigrams — the vocabulary/contamination report
    * every corpus audit starts with. explode → map-side partial count →
    * tiny shuffle → TakeOrdered; at 100 TB the partial aggregation absorbs
    * the explosion.
    */
  def ngramFreq(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(bigrams(col("text"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(25)

  // ------------------------------------------------------------ tf-idf
  /** Top-3 characteristic terms per document by tf·N/df (rational idf —
    * a log would hang cross-engine exactness on libm ulp behavior; the
    * ranking is the same for any monotone idf). Two aggregations: term
    * frequencies per (doc, term), document frequencies per term joined
    * back broadcast-style; ranking via one window. The plan at 100 TB is
    * two shuffles on term-ish keys, both map-side-combined.
    */
  def tfIdf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val terms = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
    // document frequency DERIVES from tf — its rows already are the
    // distinct (doc, term) pairs — instead of re-exploding the corpus
    // into a second distinct+count branch. tf is MATERIALIZED once
    // (localCheckpoint): the "exchange is reused at runtime" this relied
    // on does not hold — the r13 plan audit found each consumer branch
    // (df derivation + the scoring join) re-deriving the explode+count
    // chain, so the corpus was shingled per branch; the checkpoint stores
    // the (doc, term, tf) bytes the shared exchange held and every
    // consumer reads blocks.
    val tf = Materialize(terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    // document frequencies are UNIGRAM-VOCAB-sized (bounded by the
    // language, not the corpus — ~10^6 rows of (term, count) at any SF),
    // but the checkpointed tf has no size estimate, so the planner sees
    // "unknown" and falls to sort-merge: the r13 driver bench paid an SMJ
    // of the corpus-sized tf against a one-page df table. The explicit
    // broadcast restores the hash join (guide §3.1: estimates are often
    // wrong after opaque ops — hint when you KNOW a side is small).
    val df = broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val n = d.count() // corpus size: one number, computed once
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * lit(n)).cast(DoubleType)./(col("df").cast(DoubleType)).as("score"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ------------------------------------------------------------ surprisal
  /** Unigram surprisal score — the dependency-free stand-in for the LM-
    * perplexity quality filter (CCNet-style): mean negative log unigram
    * probability per document; rare-word/garbage docs score high, fluent
    * in-distribution docs score low. Derivation mirrors tfIdf: ONE corpus
    * explode produces (doc, word) counts, corpus frequencies derive from
    * them (ReusedExchange), the per-doc score is one more aggregate on the
    * same key. Declared rows-only, and measured UNPROMOTABLE to
    * oracle-exact (round 6): even with a pinned summation order (the
    * centroid-fold trick), the ln itself diverges — Spark's `log`
    * evaluates StrictMath.log (fdlibm) while DuckDB's `ln` is
    * bit-identical to glibc's, and over k/1000003 for k in 1..200000 the
    * two disagree in the last bit on 1538/28572 inputs (5.4%; glibc vs
    * JVM Math.log disagrees on 6/28572 — three implementations, no shared
    * correctly-rounded guarantee, unlike sqrt). TextAnalysisSpec pins the
    * values against an exact driver-side recomputation at 1e-9.
    */
  def surprisal(s: SparkSession, dir: String): DataFrame = {
    // tf materialized once (tfIdf's r13 discipline): the scalar
    // totalTokens aggregate, the word-count derivation and the scoring
    // join each re-derived the corpus explode before — three passes for
    // one page of counts
    val tf = Materialize(docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")))
    // vocab-sized; materialized because BOTH the totalTokens scalar below
    // and the scoring join read it
    val wc = Materialize(tf.groupBy(col("word")).agg(sum(col("tf")).as("cnt")))
    // corpus token total: one scalar off the word-count frame (vocab-sized,
    // not corpus-sized), computed once on the driver. coalesce: sum over
    // zero rows is NULL, and getLong on a null primitive NPEs — an empty
    // documents table must yield an empty result, not a driver crash.
    val totalTokens =
      wc.agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
    // wc is unigram-vocab-sized and already materialized; the checkpoint
    // erased its size estimate, so without the hint the scoring join fell
    // to sort-merge against the corpus-sized tf (r13 driver regression)
    tf.join(broadcast(wc), "word")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf").cast(DoubleType)
          * log(col("cnt").cast(DoubleType) / lit(totalTokens.toDouble))).as("sum_logp"),
        sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (-col("sum_logp") / col("n_tokens").cast(DoubleType)).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM perplexity — the step past [[surprisal]]'s unigram score
    * and the shape of the classic LM-based quality filters (CCNet's
    * wiki-LM perplexity gate): score each document by the mean negative
    * log-probability of its word bigrams under an add-k-smoothed bigram
    * model of the corpus itself, P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V).
    * Repeated boilerplate scores low (its bigrams dominate the corpus),
    * disfluent/shuffled text scores high — a sharper signal than unigram
    * frequency, which cannot see word ORDER at all.
    *
    * Scale shape: bigram extraction is one corpus explode; the model is
    * two count tables built by groupBy (bigram-vocab-sized, NOT
    * corpus-sized — they live distributed and join by key, no broadcast
    * assumption); scoring joins each doc's distinct bigrams back to the
    * model — all exchanges on bigram/unigram keys. Smoothing means
    * unseen continuations cost (c1 + k·V)/k, so the score is defined for
    * every document including singleton words. Rows-only: log is not
    * oracle-portable; the spec pins an exact Scala recomputation at 1e-9
    * and the boilerplate-vs-shuffled ordering.
    */
  def bigramPerplexity(s: SparkSession, dir: String,
      smoothK: Double = 0.1): DataFrame = {
    // bigram extraction through the compiled StringNgrams kernel (n = 2,
    // duplicates kept — the model needs every occurrence): the former
    // zip_with-into-struct posexplode evaluated its lambda interpreted
    // per position. The "w1 w2" gram string is a bijective encoding of
    // the pair (words contain no whitespace by construction — words() IS
    // the whitespace split), so grouping by the gram is grouping by the
    // pair; w1 recovers exactly via substring_index at the one place the
    // mixed key is needed. tf and c12 are materialized once
    // (localCheckpoint — tfIdf's r13 discipline): the eager V count, the
    // c1 derivation and the scoring join each re-derived the whole
    // explode chain before.
    val tf = Materialize(docs(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.string_ngrams(words(col("text")), 2))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf")))
    val c12 = Materialize(tf.groupBy(col("bg")).agg(sum(col("tf")).as("c12"))
      .select(col("bg"),
        substring_index(col("bg"), " ", 1).as("w1"), col("c12")))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // V = continuation vocabulary (distinct second words) — one scalar
    // off the bigram-vocab-sized frame. A gram is "w1 w2" with exactly
    // one space (both are single whitespace-split words), so the last
    // space-separated segment IS w2.
    val v = c12.select(substring_index(col("bg"), " ", -1))
      .distinct().count().toDouble
    // c1 is UNIGRAM-vocab-sized → broadcast (the checkpointed lineage
    // erased the estimate that used to carry it under the threshold).
    // c12 stays a distributed join DELIBERATELY: the bigram vocabulary is
    // quadratic in the unigram one (10^8-10^9 distinct bigrams at web
    // scale) — broadcasting it is a local-SF win that breaks the 100 TB
    // shape this operator documents.
    tf.join(c12, Seq("bg")).join(broadcast(c1), Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf").cast(DoubleType)
            * log((col("c12").cast(DoubleType) + lit(smoothK))
              / (col("c1").cast(DoubleType) + lit(smoothK * v))))
          .as("sum_logp"),
        sum(col("tf")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("sum_logp") / col("n_bigrams").cast(DoubleType))
          .as("bigram_surprisal"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ edit distance
  /** Nearest neighbor by Levenshtein distance for the first 10 docs,
    * candidate-pruned by length: |len(a)−len(b)| is a lower bound on edit
    * distance, so only near-length docs are compared — the standard trick
    * that keeps O(len²)-per-pair edit distance tractable. Length is the
    * ONLY candidate bound here, so this is sf-bounded ground truth (SURVEY
    * §6): a same-length-heavy corpus degrades to band² pairs. At 100 TB,
    * generate candidates with the MinHash-LSH tier and spend levenshtein
    * verifying that bounded set instead.
    */
  def editDistNeighbors(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).select(col("doc_id"), col("text"),
      length(col("text")).cast(LongType).as("len"))
    val q = d.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text").as("qt"), col("len").as("ql"))
    val cand = broadcast(q).join(d,
        col("doc_id") =!= col("query_id") && abs(col("len") - col("ql")) <= 20)
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        levenshtein(col("qt"), col("text")).cast(LongType).as("dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id"), col("dist"))
      .orderBy(col("query_id"))
  }

  /** ALL document pairs within Levenshtein distance `radius`, exactly —
    * the scale-credible sibling of [[editDistNeighbors]]. Candidates come
    * from the q-gram count filter (Gravano et al., VLDB 2001): one edit
    * operation destroys at most q character q-grams, so a pair within
    * distance d shares at least max(|a|,|b|) − q + 1 − d·q grams under
    * BAG semantics (set intersection can undercount repeats, which would
    * prune true pairs — hence the per-(doc, gram) counts and
    * sum(least(cnt_a, cnt_b))). Candidate work is the gram equi-join —
    * Σ|gram-bucket|², the same shape as every LSH tier here — NOT the
    * band² scan of the NN entry; levenshtein runs on candidates only.
    * Pairs where the threshold is non-positive (both docs shorter than
    * d·q + q) can share zero grams and still qualify, so those docs — a
    * radius-bounded set — fall back to the direct length-band join. The
    * filter only ever OVER-generates; the final levenshtein ≤ d gate
    * makes the output exact (oracle-checked vs brute force).
    *
    * Candidate-bound caveat, MEASURED: gram selectivity is a property of
    * the corpus alphabet. This test corpus has only ~1000 distinct
    * 4-grams (generator artifact), so at sf0.1 the gram join schedules
    * Σ|bucket|² ≈ 1.9e9 row pairs (Ed-Join prefix filtering — index the
    * d·q+1 rarest gram occurrences per doc — still measures 3.1e8: no
    * character-gram index survives a 1000-symbol alphabet). A natural
    * corpus has 10⁵-10⁶ distinct grams and the join is selective. Hence
    * `candidates`: feed pairs from any generator (the MinHash-LSH tier —
    * the 100 TB shape) and this becomes pure per-candidate verification;
    * output is then exact WITHIN the fed candidate set (LSH recall
    * bounds apply, spec-pinned equal on this corpus's dup structure).
    */
  def editDistRadius(s: SparkSession, dir: String, radius: Int = 25,
      q: Int = 4, candidates: Option[DataFrame] = None): DataFrame = {
    val d0 = docs(s, dir).select(col("doc_id"), col("text"),
      length(col("text")).cast(LongType).as("len"))
    val cand = candidates.getOrElse {
      // per-(doc, gram) bag counts; guard: sequence(1, n) REVERSES when
      // n < 1 (Spark auto-steps -1), so short docs must map to no grams
      val idx = when(col("len") >= q,
        sequence(lit(1L), col("len") - (q - 1))).otherwise(array())
      val grams = d0
        .select(col("doc_id"),
          explode(transform(idx, i => col("text").substr(i, lit(q)))).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      val shared = grams.as("a").join(grams.as("b"),
          col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(sum(least(col("a.cnt"), col("b.cnt"))).as("shared"))
      val lens = d0.select(col("doc_id"), col("len"))
      val fromGrams = shared
        .join(lens.as("l1"), col("d1") === col("l1.doc_id"))
        .join(lens.as("l2"), col("d2") === col("l2.doc_id"))
        .filter(abs(col("l1.len") - col("l2.len")) <= radius &&
          col("shared") >=
            greatest(col("l1.len"), col("l2.len")) - (q - 1) - radius * q)
        .select(col("d1"), col("d2"))
      val shortDocs = d0.filter(col("len") <= radius * q + q - 1)
      val fromShort = shortDocs.as("a").join(shortDocs.as("b"),
          col("a.doc_id") < col("b.doc_id") &&
            abs(col("a.len") - col("b.len")) <= radius)
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      fromGrams.union(fromShort)
    }
    val texts = d0.select(col("doc_id"), col("text"))
    cand.select(col("d1"), col("d2")).distinct()
      .join(texts.as("t1"), col("d1") === col("t1.doc_id"))
      .join(texts.as("t2"), col("d2") === col("t2.doc_id"))
      .select(col("d1"), col("d2"),
        levenshtein(col("t1.text"), col("t2.text")).cast(LongType).as("dist"))
      .filter(col("dist") <= radius)
      .orderBy(col("d1"), col("d2"))
  }

  // ------------------------------------------------------------ curation
  /** The full corpus-curation funnel in one plan: quality gate (stopword
    * ratio ≥ 5%, i.e. reads like language) → declared-language filter →
    * exact-dedup survivors (canonical doc per md5 group). This is the
    * composition a training-data pipeline actually ships; each stage is a
    * pushed filter or one hash shuffle, so the funnel costs barely more
    * than its most expensive stage.
    */
  def curateCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nWords = size(words(col("text"))).cast(LongType)
    val stopRatio = hits(col("text"), stopEn).cast(DoubleType) / nWords.cast(DoubleType)
    val gated = docs(s, dir)
      .filter(col("lang").isin("en", "fr", "es", "de", "zh"))
      .withColumn("stop_ratio", stopRatio)
      .filter(col("stop_ratio") >= 0.05)
    val canonical = gated
      .withColumn("canonical_id", min(col("doc_id")).over(
        Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("canonical_id"))
    canonical
      .select(col("doc_id"), col("lang"), col("n_chars"), col("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ decontamination
  /** Distinct word k-grams via the compiled [[graft.functions.StringNgrams]]
    * kernel — value-identical (space-joined grams, array_distinct keep-first
    * order) to the nested zip_with-over-k-shifted-slices HOF formulation it
    * replaces, whose per-element lambda walks cost ~44 s CPU per corpus
    * pass at k = 8 in the r13 profile (FunctionsSpec pins the equality).
    */
  private def ngramsK(c: Column, k: Int): Column =
    graft.functions.string_ngrams(words(c), k, distinct = true)

  /** Benchmark decontamination — the step every training-data pipeline runs
    * before a model ships: flag corpus documents sharing ≥1 distinct word
    * [[n]]-gram with any benchmark document, so eval data never leaks into
    * training data. Exact (n-gram set intersection), hence oracle-checked.
    *
    * Scale shape: the benchmark side collapses to a DISTINCT gram set —
    * tiny relative to the corpus (benchmarks are fixed-size; 100 TB corpora
    * are not) — so the join broadcasts; per-doc grams are array_distinct'd
    * at the source, so the corpus side needs no cross-doc distinct, and the
    * count aggregates map-side. Cost ≈ one corpus scan + explode.
    */
  def decontaminate(docsDf: DataFrame, isBenchmark: Column, n: Int = 5): DataFrame = {
    val p = docsDf.sparkSession.sparkContext.defaultParallelism
    // filter each side BEFORE the k-gram projection: the two branches
    // shingle disjoint doc subsets, so the interpreted gram pipeline runs
    // over the corpus exactly once in total (a shared-projection-then-
    // filter formulation lets Catalyst float the bench filter above the
    // explode, shingling the full corpus in BOTH branches)
    // _outer: the non-outer generator would infer size(grams) > 0 and push
    // it to the scan with the whole gram chain inlined (interpreted per-row
    // recompute — the same trap minhash documents); the null row an empty
    // doc produces can never equi-join, so output is identical
    def grams(side: DataFrame): DataFrame = side
      .repartition(p, col("doc_id")) // spread the interpreted k-gram HOF work
      .select(col("doc_id"), explode_outer(ngramsK(col("text"), n)).as("gram"))
    val benchGrams = grams(docsDf.filter(isBenchmark))
      .select(col("gram")).distinct()
    val shared = grams(docsDf.filter(!isBenchmark))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    docsDf.filter(!isBenchmark)
      .select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) > 0, 1L).otherwise(0L).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Driver form: every doc_id ≡ 0 (mod 11) plays the held-out benchmark. */
  def decontaminateDocs(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables(s, dir).documents, col("doc_id") % 11 === 0)

  /** [[decontaminate]]'s 100 TB serving tier — the GPT-3-style Bloom-filter
    * formulation: the benchmark's distinct gram set collapses to a
    * fixed-width bit sketch (≈[[bitsPerGram]]/8 bytes per gram instead of
    * the gram STRINGS the exact tier broadcasts), and the corpus-side
    * decision becomes one codegen'd `filter(grams, g → might_contain)` per
    * row — NO corpus-side explode, join, or shuffle at all: the whole scan
    * is embarrassingly parallel and the only exchange in the plan is the
    * final gate `orderBy`. Guarantee inherited from the sketch: zero false
    * NEGATIVES (every truly contaminated doc is flagged — the direction
    * that matters; a missed leak poisons an eval, an over-flag costs one
    * training doc), false positives at the design rate. The default 29
    * bits/gram ≈ 1e-6 per-gram fp, so a 500-gram doc over-flags at ~5e-4.
    *
    * Rows-only at the gate (DuckDB has no twin of Spark's sketch); the
    * spec pins flagged ⊇ exact-contaminated and a bounded over-flag count.
    * At 100 TB: the sketch is built once per eval-suite release (the
    * benchmark side is fixed-size), the per-stage cost of shipping it is
    * one plan literal, and `spark.sql.optimizer.runtime.bloomFilter.max*`
    * bounds apply if an eval suite's gram set outgrows the defaults.
    */
  def decontaminateBloom(docsDf: DataFrame, isBenchmark: Column, n: Int = 5,
      bitsPerGram: Int = 29): DataFrame = {
    val bloomBytes = buildBenchmarkBloom(docsDf.filter(isBenchmark), n, bitsPerGram)
    docsDf.filter(!isBenchmark)
      .select(col("doc_id"), bloomFlagged(bloomBytes, n).as("n_flagged"))
      .select(col("doc_id"), col("n_flagged"),
        when(col("n_flagged") > 0, 1L).otherwise(0L).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Build the benchmark-gram Bloom sketch: one explode+distinct over the
    * (fixed-size) benchmark docs, sized from the REAL distinct-gram count
    * so the fp rate is the designed one rather than an estimate's
    * accident. The returned bytes are the serving artifact — persist them
    * beside the eval suite and feed every consumer ([[decontaminateBloom]],
    * graft.streaming.Streams.decontaminateStream).
    */
  def buildBenchmarkBloom(benchDocs: DataFrame, n: Int = 5,
      bitsPerGram: Int = 29): Array[Byte] = {
    val p = benchDocs.sparkSession.sparkContext.defaultParallelism
    // hashed_ngrams longs are bit-identical to xxhash64(the gram string),
    // so the sketch's members and bloom_count's probes can never diverge
    val benchHashed = benchDocs
      .repartition(p, col("doc_id"))
      .select(explode(graft.functions.hashed_ngrams(
        words(col("text")), n, distinct = true)).as("h"))
      .distinct()
      .persist()
    try {
      val nGrams = math.max(1L, benchHashed.count())
      benchHashed
        .agg(graft.functions.bloom_agg(col("h"), nGrams,
          math.max(64L, nGrams * bitsPerGram.toLong)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    } finally { benchHashed.unpersist(); () }
  }

  /** The per-doc contaminated-gram count under a prebuilt sketch — a pure
    * column expression (scan-local, zero shuffle, zero state), which is
    * what lets the SAME decision run batch-side and under readStream. Two
    * compiled kernel calls per row ([[graft.functions.HashedNgrams]] →
    * [[graft.functions.BloomCount]]), fully inside whole-stage codegen —
    * the interpreted HOF formulation this replaces re-built the gram
    * strings per row and walked an expression tree per gram.
    */
  private[graft] def bloomFlagged(bloomBytes: Array[Byte], n: Int): Column =
    graft.functions.bloom_count(
      graft.functions.hashed_ngrams(words(col("text")), n, distinct = true),
      bloomBytes)

  /** Driver form — same benchmark convention as [[decontaminateDocs]]. */
  def decontaminateBloomDocs(s: SparkSession, dir: String): DataFrame =
    decontaminateBloom(Tables(s, dir).documents, col("doc_id") % 11 === 0)

  // ------------------------------------------------------------ span dedup
  /** Span-level exact-substring dedup signal (the span-granular form of
    * Lee et al.'s exact substring dedup): for every document, how many of
    * its DISTINCT word [[n]]-grams also occur in at least one other
    * document, plus the shared share — the signal a pipeline thresholds to
    * drop boilerplate-heavy docs that whole-doc hashing misses.
    *
    * Scale shape: one shingle pass produces the (doc, gram) pairs frame,
    * materialized once (localCheckpoint — the robust form of the exchange
    * reuse this relied on before r13); the gram-frequency table, the
    * per-doc shared counts and the per-doc totals all read that one
    * materialization, so the corpus is shingled exactly once. The wide
    * exchanges carry (doc_id, gram); at 100 TB you'd swap
    * the gram string for xxhash64(gram) to make them fixed-width — kept as
    * the string here because the oracle compares gram sets exactly.
    */
  def spanDedup(docsDf: DataFrame, n: Int = 8): DataFrame = {
    val p = docsDf.sparkSession.sparkContext.defaultParallelism
    // localCheckpoint, not an exchange pin: the three consumers below were
    // MEANT to share one shuffled (doc_id, gram) frame, but the r13 plan
    // audit found the explode chain re-evaluated per consumer (the
    // broadcast/aggregate branches don't reuse the exchange) — three full
    // shingle passes. The checkpoint materializes the pairs once; the
    // stored bytes are the bytes the shared exchange held. The former
    // `.distinct()` here is gone with the pin it implemented: grams are
    // per-doc distinct already (ngramsK) and explode_outer's one null row
    // per gramless doc is unique per doc, so it collapsed nothing — it
    // only forced the shared exchange the checkpoint now provides, minus
    // distinct's own extra shuffle.
    val pairs = Materialize(docsDf
      .repartition(p, col("doc_id"))
      .select(col("doc_id"), explode_outer(ngramsK(col("text"), n)).as("gram")))
    val shared = pairs.filter(col("gram").isNotNull)
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("gram"))
    val nShared = pairs.filter(col("gram").isNotNull)
      .join(shared, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    pairs.groupBy(col("doc_id")).agg(count(col("gram")).as("n_grams"))
      .join(nShared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams") > 0,
          coalesce(col("n_shared"), lit(0L)).cast(DoubleType)
            / col("n_grams").cast(DoubleType))
          .otherwise(lit(0.0)).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  def spanDedupDocs(s: SparkSession, dir: String): DataFrame =
    spanDedup(Tables(s, dir).documents)

  // ------------------------------------------------------------ sequence packing
  /** Deterministic token-budget packing: assign documents to training shards
    * so each shard holds ~[[budget]] tokens. Docs are hash-bucketed
    * (doc_id mod numBuckets) and packed in doc_id order within their bucket
    * by cumulative token count — a first-fit-in-order bin assignment that is
    * rerun-deterministic and embarrassingly parallel (each bucket packs
    * independently; at 100 TB numBuckets rises so no bucket's running sum
    * is a single-partition window — the global-cumsum formulation would be
    * exactly that antipattern). Exact, hence oracle-checked.
    */
  def packSequences(docsDf: DataFrame, numBuckets: Int = 8, budget: Long = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsDf
      .select(col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_tokens"),
        (col("doc_id") % numBuckets).cast(LongType).as("bucket"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      // the shard a doc STARTS in: docs may straddle a budget boundary, the
      // next one starts in the next shard — contiguous fill, no re-sort
      .withColumn("shard", col("bucket") * lit(1000000L) +
        floor((col("cum_tokens") - col("n_tokens")).cast(DoubleType) / lit(budget.toDouble)).cast(LongType))
      .orderBy(col("doc_id"))
  }

  def packSequencesDocs(s: SparkSession, dir: String): DataFrame =
    packSequences(Tables(s, dir).documents)

  // ------------------------------------------------------------ shard export
  /** The training-handoff manifest: per-shard doc/token/char totals under
    * the deterministic `doc_id mod numShards` shard assignment
    * [[exportShards]] writes. One map-side-combined groupBy over the
    * corpus — numShards output rows — so the manifest costs one scan at
    * any corpus size. Exact (the assignment is pure arithmetic), hence
    * oracle-checked; the token count is the whitespace tokenizer the rest
    * of the curation surface budgets with.
    */
  def shardManifest(docsDf: DataFrame, numShards: Int = 16): DataFrame =
    docsDf
      .groupBy(pmod(col("doc_id"), lit(numShards.toLong)).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words(col("text"))).cast(LongType)).as("n_tokens"),
        sum(length(col("text")).cast(LongType)).as("n_chars"))
      .orderBy(col("shard"))

  def shardManifestDocs(s: SparkSession, dir: String): DataFrame =
    shardManifest(Tables(s, dir).documents)

  /** Sharded training export — the artifact the curation funnel hands to a
    * trainer: `numShards` shard dirs (`shard=K/`, partition-pruned reads),
    * docs in a seeded deterministic shuffle order WITHIN each shard (the
    * [[graft.ops.Curation.shuffleOrder]] convention — rerun-stable, no
    * global sort), files rolled at [[maxRecordsPerFile]], and the
    * [[shardManifest]] written beside the data as `_manifest` (the `_`
    * prefix keeps it invisible to parquet readers of the data dirs, the
    * `_metadata` convention). One exchange total: the repartition that
    * co-locates each shard's docs; the within-shard order rides
    * sortWithinPartitions on the same exchange, so at 100 TB the export
    * costs one shuffle of the (already-curated) corpus and one manifest
    * scan — there is no global orderBy anywhere.
    */
  def exportShards(docsDf: DataFrame, outDir: String, numShards: Int = 16,
      maxRecordsPerFile: Long = 1000000L, seed: String = "graft-export"): Unit = {
    val s = docsDf.sparkSession
    // staged promote (the auditedPromote/rewriteInPlace discipline): data
    // AND manifest land in a staging dir and promote in one rename, so a
    // trainer can never read a shard set whose manifest is missing or
    // stale — a crash between the two writes was exactly that window
    def writeAll(dir: String): Unit = {
      docsDf
        .withColumn("shard", pmod(col("doc_id"), lit(numShards.toLong)))
        .repartition(numShards, col("shard"))
        .sortWithinPartitions(col("shard"),
          xxhash64(concat_ws("|", lit(seed), col("doc_id").cast("string"))),
          col("doc_id"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("shard")
        .parquet(dir)
      shardManifest(docsDf, numShards)
        .write.mode("overwrite").parquet(s"$dir/_manifest")
    }
    graft.ops.Layout.writeStaged(s, outDir)(writeAll)
  }

  // ------------------------------------------------ token-budget shards
  /** TOKEN-budget shard assignment — the handoff contract trainers
    * actually state ("~100M tokens per shard", not "~1M docs"): shard k
    * holds the docs whose global running token count starts in
    * [k·budget, (k+1)·budget), in doc_id order, so shards are contiguous
    * and token-balanced to within one document. The interesting part is
    * computing a GLOBAL prefix sum without a global sort: the classic
    * two-phase distributed scan —
    *
    *   1. docs bucket into `numRanges` contiguous doc_id ranges whose
    *      boundaries come from APPROXIMATE doc_id QUANTILES (one
    *      percentile_approx agg, broadcast as a one-row bounds frame —
    *      the gap_fill shape). Quantile boundaries, not max/numRanges
    *      arithmetic, so a sparse or clustered id space (snowflake ids,
    *      a compacted corpus) still spreads ~N/numRanges rows per range
    *      — arithmetic ranges would concentrate rows into a few ranges
    *      and push the within-range window toward exactly the
    *      single-partition hotspot the two-phase scan exists to avoid.
    *      The OUTPUT is boundary-independent: any contiguous,
    *      doc_id-monotone bucketing yields the same global prefix sum
    *      (range totals + within-range sums recompose identically), so
    *      the quantile estimate only shapes the WORK, never the answer;
    *   2. one `numRanges`-row groupBy gives per-range token totals, whose
    *      exclusive prefix (a window over `numRanges` rows — param-
    *      bounded, driver-scale) is each range's global OFFSET;
    *   3. each doc's global position = its range's offset + the
    *      within-range running sum, a window partitioned BY RANGE — every
    *      partition holds ~N/numRanges rows, so no executor ever sees the
    *      whole corpus, which is exactly what the naive
    *      `sum() over (order by doc_id)` single-partition window would do.
    *
    * The result is bit-identical to the naive global window (the oracle
    * computes it that way; spec pins Spark-side equality at three range
    * geometries), and a doc straddling a boundary starts its shard — the
    * [[packSequences]] convention. At 100 TB: one scan, one small agg,
    * one partitioned window — shuffle bytes are (doc_id, n_tokens) pairs,
    * never text.
    */
  def tokenShardAssign(docsDf: DataFrame, budget: Long = 50000L,
      numRanges: Int = 64): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(numRanges > 0, s"numRanges must be positive, got $numRanges")
    import org.apache.spark.sql.expressions.Window
    val toks = docsDf.select(col("doc_id"),
      size(words(col("text"))).cast(LongType).as("n_tokens"))
    val ranged =
      if (numRanges == 1) toks.withColumn("rng", lit(0L))
      else {
        // range id = #boundaries strictly below doc_id — monotone in
        // doc_id by construction, so ranges stay contiguous no matter
        // how approximate the quantile estimate is
        val probs = (1 until numRanges).map(_.toDouble / numRanges).toArray
        val bounds = toks.agg(percentile_approx(col("doc_id"),
          lit(probs), lit(10000)).as("bs"))
        toks.crossJoin(broadcast(bounds))
          .withColumn("rng", aggregate(col("bs"), lit(0L),
            (acc, b) => acc + when(col("doc_id") > b, lit(1L)).otherwise(lit(0L))))
          .drop("bs")
      }
    val offsets = ranged.groupBy(col("rng"))
      .agg(sum(col("n_tokens")).as("rt"))
      .withColumn("offset", coalesce(sum(col("rt")).over(
        Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng"), col("offset"))
    val wIn = Window.partitionBy(col("rng")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets), Seq("rng"))
      .withColumn("cum_tokens", col("offset") + sum(col("n_tokens")).over(wIn))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        floor((col("cum_tokens") - col("n_tokens")).cast(DoubleType)
          / lit(budget.toDouble)).cast(LongType).as("shard"))
  }

  def tokenShardsDocs(s: SparkSession, dir: String): DataFrame =
    // the orderBy is gate-determinism only — the export path and the
    // scale probe consume the assignment unsorted
    tokenShardAssign(Tables(s, dir).documents).orderBy(col("doc_id"))

  /** [[exportShards]] with the [[tokenShardAssign]] contract: shard dirs
    * bounded by TOKENS instead of doc counts, manifest beside the data.
    * Same staged-promote discipline and one-exchange layout write (the
    * partitionBy exchange); the within-shard order is the arrival order
    * of the contiguous doc_id range (trainers who also want shuffled
    * order compose [[graft.ops.Curation.shuffleOrder]] upstream — token
    * sharding is about BOUNDING, shuffling is a separate, already-owned
    * concern).
    */
  def exportShardsByTokens(docsDf: DataFrame, outDir: String,
      budget: Long = 50000L, numRanges: Int = 64,
      maxRecordsPerFile: Long = 1000000L): Unit = {
    val s = docsDf.sparkSession
    // the assignment feeds BOTH the data write (as the join's small side)
    // and the manifest — persist it so the prefix sum runs once, not once
    // per consumer (it's (doc_id, n_tokens, shard) triples, tiny relative
    // to the text it shards)
    val assigned = tokenShardAssign(docsDf, budget, numRanges)
      .select(col("doc_id"), col("n_tokens"), col("shard")).persist()
    try {
      def writeAll(dir: String): Unit = {
        docsDf.join(assigned.select(col("doc_id"), col("shard")), Seq("doc_id"))
          .repartition(col("shard"))
          .sortWithinPartitions(col("shard"), col("doc_id"))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .partitionBy("shard")
          .parquet(dir)
        assigned.groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .write.mode("overwrite").parquet(s"$dir/_manifest")
      }
      graft.ops.Layout.writeStaged(s, outDir)(writeAll)
    } finally { assigned.unpersist(); () }
  }

  // ------------------------------------------------------------ chunking
  /** Sliding-window document chunking — the context-window split a training
    * pipeline applies to long documents: windows of `window` tokens every
    * `stride` tokens, last window clipped to the document (every token is
    * covered, consecutive chunks overlap by window − stride). Chunk count
    * and boundaries are pure integer arithmetic on the whitespace token
    * count, so the op is an explode-only map stage — no shuffle, no state;
    * at 100 TB it rides the ingest scan. Oracle-exact.
    */
  /** Sort-free chunking core — stateless column expressions only, so it
    * runs identically under readStream (see graft.streaming.Streams
    * .chunkStream; StreamingSpec pins batch/stream parity).
    */
  private[graft] def chunkCore(docsDf: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val lastIdx = when(col("n_tok") <= window, lit(0L))
      .otherwise(floor((col("n_tok") - window + stride - 1) / lit(stride)).cast(LongType))
    val start = col("chunk_idx") * stride
    val end = least(start + window, col("n_tok"))
    docsDf
      .withColumn("n_tok", size(words(col("text"))).cast(LongType))
      .withColumn("chunk_idx", explode(sequence(lit(0L), lastIdx)))
      .select(col("doc_id"), col("chunk_idx"), start.as("start_tok"),
        end.as("end_tok"), (end - start).as("n_chunk_tokens"))
  }

  def chunkDocuments(docsDf: DataFrame, window: Int = 50, stride: Int = 40): DataFrame =
    chunkCore(docsDf, window, stride).orderBy(col("doc_id"), col("chunk_idx"))

  def chunkDocumentsQuery(s: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables(s, dir).documents)

  // ---------------------------------------------------------- source stats
  /** Per-source corpus report — the input to designing mixture weights:
    * doc/token/char volumes and micro-averaged quality ratios per source.
    * Every aggregate is an exact BIGINT sum (associative, so partition
    * order cannot perturb it — a double sum would hash-differ run to run);
    * the ratios are single divisions of those sums. One scan, map-side
    * combine into |sources| rows — free at any scale. Oracle-exact.
    */
  def sourceStats(s: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast(LongType)
    val nWords = size(words(col("text"))).cast(LongType)
    val nPunct = length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType)
    val nStop  = hits(col("text"), stopEn)
    Tables(s, dir).documents
      .select(col("source"), nChars.as("nc"), nWords.as("nw"),
        nPunct.as("np"), nStop.as("ns"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("sum_tokens"),
        sum(col("nc")).as("sum_chars"),
        (sum(col("ns")).cast(DoubleType) / sum(col("nw")).cast(DoubleType))
          .as("stop_ratio"),
        (sum(col("np")).cast(DoubleType) / sum(col("nc")).cast(DoubleType))
          .as("punct_ratio"))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------- vocab coverage
  /** Vocabulary coverage — the OOV audit a tokenizer-training pipeline
    * runs before freezing a vocab: top-V corpus words (count desc, word
    * asc on ties — deterministic cross-engine), then each document's
    * out-of-vocabulary token share. ONE corpus explode: word totals derive
    * from the per-(doc, word) counts (tfidf's exchange-reuse trick), the
    * V-row vocab broadcasts, and the per-doc ratio aggregates the
    * already-collapsed counts — at 100 TB the only corpus-sized exchange
    * is the (doc, word) combine. Oracle-exact.
    */
  def vocabCoverage(s: SparkSession, dir: String, vocabSize: Int = 100): DataFrame = {
    val counts = docs(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    val vocab = counts.groupBy(col("word")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("word")).limit(vocabSize)
      .select(col("word"), lit(1L).as("in_vocab"))
    counts.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        coalesce(sum(when(col("in_vocab").isNull, col("cnt"))), lit(0L)).as("n_oov"))
      .withColumn("oov_ratio",
        col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ budget selection
  /** (doc_id, n_tokens, quality_score) — the ranking inputs for
    * budget-constrained selection; the score mirrors [[quality]]'s blended
    * fold term-for-term (and therefore the oracle's, bit-for-bit).
    */
  private def budgetScored(s: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast(LongType)
    val nWords = size(words(col("text"))).cast(LongType)
    val nPunct = length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType)
    val nStop  = hits(col("text"), stopEn)
    // no docs()-style repartition: both consumers are scan-shaped (the
    // histogram aggregates map-side, the filter is pure), so a hash
    // exchange here would be a shuffle of document bodies for nothing
    Tables(s, dir).documents.select(col("doc_id"), nWords.as("n_tokens"),
      ((nStop.cast(DoubleType) / nWords.cast(DoubleType)) * lit(0.5)
        + (nPunct.cast(DoubleType) / nChars.cast(DoubleType)) * lit(0.25)
        + (nChars.cast(DoubleType) / nWords.cast(DoubleType)) * lit(0.05))
        .as("quality_score"))
  }

  /** Quality-ranked corpus selection under a global token budget — "take
    * the best documents until B tokens", the data-constrained-scaling
    * shape of corpus curation. Ground-truth tier: ONE global window in
    * (score desc, doc_id) order — single-partition by nature, exact and
    * oracle-checked at test SF; [[selectBudgetThreshold]] is the tier that
    * scales (same pattern as ngram_jaccard → minhash_lsh). A doc is
    * selected iff it STARTS within budget (packSequences' boundary rule).
    */
  def selectBudget(s: SparkSession, dir: String, budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    budgetScored(s, dir)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .orderBy(col("doc_id"))
  }

  /** The scale tier of [[selectBudget]]: quantize the score into bands,
    * aggregate tokens per band (one map-side-combined shuffle of ≤ bands
    * rows), walk the tiny band histogram on the driver to find the lowest
    * band that still fits the budget whole, and keep every doc scoring
    * above it. No global sort, no single-partition window — the corpus
    * pays the standard two-pass threshold algorithm (histogram scan +
    * filter scan, both pruned to the 3-column scoring projection; at
    * 100 TB you'd fold pass one into whatever scan precedes selection).
    * Selection error is bounded by one band's tokens; the spec pins
    * threshold-selected ⊆ exact-selected (bands kept whole are a prefix
    * of the exact ranking). Driver state is O(bands) — the IVF-centroid
    * justification.
    */
  def selectBudgetThreshold(s: SparkSession, dir: String,
      budget: Long = 10000L, bands: Int = 1000): DataFrame = {
    // materialize the 4-column scoring projection ONCE (guide §8's
    // decide-on-small-rows discipline): without it the scoring expression
    // — a regex pass plus the stopword kernel over every document body —
    // re-evaluated per consumer (histogram scan, output filter scan, and
    // the output orderBy's range-sampling pass: three full corpus scans,
    // measured 3 × ~0.4 CPU-s serial at sf0.1). The materialized frame is
    // (doc_id, n_tokens, score, band) ≈ 32 bytes/doc — the lightweight
    // proxy table, never the text.
    val scored = Materialize(budgetScored(s, dir)
      // an empty doc scores null (0/0 ratios); it can't be selected and a
      // null band row would NPE the driver's histogram walk below
      .filter(col("quality_score").isNotNull)
      .withColumn("band", floor(col("quality_score") * bands).cast(LongType)))
    val hist = scored.groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("toks"))
      .orderBy(col("band").desc)
      .collect() // O(bands) rows — tiny, and the threshold needs the cumsum
    var cum = 0L
    var cutoff = Long.MaxValue // exclusive: keep bands strictly above
    var i = 0
    while (i < hist.length && cum + hist(i).getLong(1) <= budget) {
      cum += hist(i).getLong(1)
      cutoff = hist(i).getLong(0)
      i += 1
    }
    scored.filter(col("band") >= cutoff)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ repetition
  /** Gopher-style repetition signals — the quality rules that kill
    * boilerplate and degenerate text: type-token ratio (distinct/total
    * words), most-frequent-word share, and adjacent-duplicate count. One
    * explode + two map-side-combined aggregations + a per-doc top-1 window
    * over already-collapsed (doc, word) counts; the adjacent-repeat count
    * never leaves the row (zip_with over shifted slices). Exact, hence
    * oracle-checked.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val w = words(col("text"))
    // ONE corpus scan: the adjacent-duplicate count is a per-doc scalar
    // computed in the same projection that explodes the words (8 bytes
    // carried per word-row), so neither it nor the top-word branch needs
    // its own pass over `text` — the naive three-branch formulation scans
    // the corpus three times, which is the difference that matters at
    // 100 TB. min() re-extracts the constant deterministically.
    // adjacent-duplicate count through the compiled AdjacentRepeats kernel
    // (§4): the HOF chain it replaces — size(filter(zip_with(slice, slice,
    // ===), identity)) — materialized two slices plus a zipped boolean
    // array per doc and evaluated its lambdas interpreted per element,
    // measured 64 task-CPU-s per pass at sf0.1 (~95% of this operator's
    // compute). Value-identical incl. null-element semantics
    // (FunctionsSpec pins the equality), one allocation-free pass.
    val exploded = d.select(col("doc_id"),
      graft.functions.adjacent_repeats(w).as("n_adj"),
      explode(w).as("word"))
    // barrier on doc_id: the stats aggregate, the top-1 window and their
    // join below all need doc_id (co-)partitioning — declaring it once
    // means one exchange feeds all three (ReusedExchange), and the window
    // / join sort locally without further shuffles
    val counts = exploded.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"), min(col("n_adj")).as("n_adj"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val top = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("n").desc, col("word"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("word").as("top_word"), col("n").as("top_n"))
    val stats = counts.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"), count(lit(1)).as("n_distinct"),
        min(col("n_adj")).as("n_adjacent"))
    stats.join(top, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        (col("n_distinct").cast(DoubleType) / col("n_words").cast(DoubleType)).as("ttr"),
        col("top_word"), col("top_n"),
        (col("top_n").cast(DoubleType) / col("n_words").cast(DoubleType)).as("top_ratio"),
        col("n_adjacent"),
        when(col("top_n").cast(DoubleType) / col("n_words").cast(DoubleType) > 0.2, 1L)
          .otherwise(0L).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ heavy hitters
  /** The scale tier of [[ngramFreq]]: corpus-wide frequent words WITHOUT
    * aggregating the full vocabulary. Pass 1 finds candidate heavy hitters
    * with Spark's one-pass frequent-items sketch (per-partition Misra-Gries,
    * merged on the driver — support-set size is 1/support, not |vocab|);
    * pass 2 exact-counts ONLY the candidates (broadcast semi-join), so the
    * shuffle carries a bounded candidate set. At 100 TB the full-vocab
    * groupBy of the exact tier is the thing you can't run (trillions of
    * distinct garbage tokens); this is the standard two-pass answer.
    * Rows-only (sketch internals are engine-specific); the spec pins that
    * the result equals the exact tier's top-k on this corpus.
    */
  def heavyHitters(s: SparkSession, dir: String, support: Double = 0.001,
      k: Int = 25): DataFrame = {
    val wordsDf = docs(s, dir).select(explode(words(col("text"))).as("word"))
    val cands = wordsDf.stat.freqItems(Seq("word"), support)
      .select(explode(col("word_freqItems")).as("word"))
    wordsDf.join(broadcast(cands), "word")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)
  }

  // =================================================================
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_count" -> (tokenCount _),
    "text_quality"     -> (quality _),
    "text_quality_classifier" ->
      ((s: SparkSession, dir: String) => qualityClassifier(s, dir)),
    "text_lang_id"     -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_ngram_freq"  -> (ngramFreq _),
    "text_tfidf"       -> (tfIdf _),
    "text_editdist_nn" -> (editDistNeighbors _),
    "text_editdist_radius" ->
      ((s: SparkSession, dir: String) => editDistRadius(s, dir)),
    "text_curate_corpus" -> (curateCorpus _),
    "text_decontaminate" -> (decontaminateDocs _),
    "text_decontaminate_bloom" -> (decontaminateBloomDocs _),
    "text_pack_sequences" -> (packSequencesDocs _),
    "text_shard_manifest" -> (shardManifestDocs _),
    "text_token_shards" -> (tokenShardsDocs _),
    "text_repetition"    -> (repetition _),
    "text_heavy_hitters" -> ((s: SparkSession, dir: String) => heavyHitters(s, dir)),
    "text_select_budget" -> ((s: SparkSession, dir: String) => selectBudget(s, dir)),
    "text_select_budget_threshold" ->
      ((s: SparkSession, dir: String) => selectBudgetThreshold(s, dir)),
    "text_source_stats" -> (sourceStats _),
    "text_vocab_coverage" -> ((s: SparkSession, dir: String) => vocabCoverage(s, dir)),
    "text_chunk_documents" -> (chunkDocumentsQuery _),
    "text_span_dedup" -> (spanDedupDocs _),
    "text_surprisal" -> (surprisal _),
    "text_bigram_perplexity" ->
      ((s: SparkSession, dir: String) => bigramPerplexity(s, dir)))

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ",", ")")
  private def sqlHits(stop: Seq[String]) =
    s"len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w IN ${sqlList(stop)}))"

  val oracles: Map[String, String] = Map(
    "text_token_shards" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 50000.0) AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_shard_manifest" ->
      """SELECT CAST(doc_id % 16 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, list_distinct(
        |    [list_extract(ws, i) || ' ' || list_extract(ws, i+1) || ' ' ||
        |     list_extract(ws, i+2) || ' ' || list_extract(ws, i+3) || ' ' ||
        |     list_extract(ws, i+4) || ' ' || list_extract(ws, i+5) || ' ' ||
        |     list_extract(ws, i+6) || ' ' || list_extract(ws, i+7)
        |     for i in range(1, len(ws)-6)]) AS g FROM w),
        |pairs AS (SELECT doc_id, unnest(g) AS gram FROM g),
        |shared AS (SELECT gram FROM pairs GROUP BY gram HAVING COUNT(*) >= 2),
        |cnt AS (SELECT doc_id, COUNT(*) AS n_shared
        |  FROM pairs JOIN shared USING (gram) GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams FROM g)
        |SELECT t.doc_id, t.n_grams,
        |  COALESCE(c.n_shared, 0) AS n_shared,
        |  CASE WHEN t.n_grams > 0
        |    THEN CAST(COALESCE(c.n_shared, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
        |    ELSE 0.0 END AS dup_ratio
        |FROM tot t LEFT JOIN cnt c ON t.doc_id = c.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "text_chunk_documents" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    CASE WHEN n_tok <= 50 THEN 0 ELSE (n_tok - 50 + 39) // 40 END AS last_idx
        |  FROM d),
        |x AS (SELECT doc_id, n_tok,
        |    unnest(generate_series(0, last_idx)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx, chunk_idx * 40 AS start_tok,
        |  LEAST(chunk_idx * 40 + 50, n_tok) AS end_tok,
        |  LEAST(chunk_idx * 40 + 50, n_tok) - chunk_idx * 40 AS n_chunk_tokens
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_editdist_nn" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM documents),
        |q AS (SELECT doc_id AS query_id, text AS qt, len AS ql FROM d WHERE doc_id < 10),
        |cand AS (SELECT query_id, d.doc_id AS neighbor_id,
        |    CAST(levenshtein(qt, text) AS BIGINT) AS dist
        |  FROM q JOIN d ON d.doc_id <> query_id AND abs(d.len - ql) <= 20),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY dist, neighbor_id) AS rk FROM cand)
        |SELECT query_id, neighbor_id, dist FROM ranked WHERE rk = 1
        |ORDER BY query_id""".stripMargin,
    // brute force within the |len| band — the band is a valid lower bound
    // on edit distance, so this is the complete radius-25 answer the
    // q-gram-pruned Spark plan must reproduce exactly
    "text_editdist_radius" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 25
        |WHERE levenshtein(a.text, b.text) <= 25
        |ORDER BY d1, d2""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM (
        |  SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE)
        |      / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df ON tf.term = df.term),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS BIGINT) AS rk FROM scored)
        |SELECT doc_id, rk, term, tf, df, score FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH m AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(${sqlHits(stopEn)} AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT doc_id, n_chars, n_words,
         |  CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
         |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
         |  CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
         |  (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |    + (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.25
         |    + (CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.05 AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_quality_classifier" -> classifierOracle(QualityWeights()),
    "text_lang_id" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(${sqlHits(stopEn)} AS BIGINT) AS c_en,
         |  CAST(${sqlHits(stopFr)} AS BIGINT) AS c_fr,
         |  CAST(${sqlHits(stopEs)} AS BIGINT) AS c_es,
         |  CAST(${sqlHits(stopDe)} AS BIGINT) AS c_de
         |  FROM documents)
         |SELECT doc_id, c_en, c_fr, c_es, c_de,
         |  CASE WHEN greatest(c_en, c_fr, c_es, c_de) = 0 THEN 'unknown'
         |       WHEN c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
         |       WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
         |       WHEN c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
         |       ELSE 'de' END AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_curate_corpus" ->
      s"""WITH gated AS (
         |  SELECT doc_id, lang, n_chars, text,
         |    CAST(${sqlHits(stopEn)} AS DOUBLE) /
         |      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS stop_ratio
         |  FROM documents
         |  WHERE lang IN ('en', 'fr', 'es', 'de', 'zh')),
         |q AS (SELECT * FROM gated WHERE stop_ratio >= 0.05),
         |canon AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id FROM q)
         |SELECT doc_id, lang, n_chars, stop_ratio FROM canon
         |WHERE doc_id = canonical_id ORDER BY doc_id""".stripMargin,
    "text_ngram_freq" ->
      """WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |bg AS (SELECT unnest([list_extract(ws, i) || ' ' || list_extract(ws, i+1)
        |    for i in range(1, len(ws))]) AS bigram FROM w)
        |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 25""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      w -> CAST(length(w)*31 + ascii(w) AS BIGINT)),
        |    (h, v) -> ((h * 1000003) + v) % 1099511627776) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH w AS (SELECT doc_id, doc_id % 11 = 0 AS is_bench,
        |    string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, is_bench, list_distinct(
        |    [list_extract(ws, i) || ' ' || list_extract(ws, i+1) || ' ' ||
        |     list_extract(ws, i+2) || ' ' || list_extract(ws, i+3) || ' ' ||
        |     list_extract(ws, i+4) for i in range(1, len(ws)-3)]) AS g FROM w),
        |bench AS (SELECT DISTINCT unnest(g) AS gram FROM g WHERE is_bench),
        |corp AS (SELECT doc_id, unnest(g) AS gram FROM g WHERE NOT is_bench),
        |shared AS (SELECT doc_id, COUNT(*) AS n_shared
        |  FROM corp JOIN bench USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(s.n_shared, 0) AS n_shared,
        |  CAST(CASE WHEN COALESCE(s.n_shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
        |WHERE d.doc_id % 11 <> 0 ORDER BY d.doc_id""".stripMargin,
    "text_repetition" ->
      """WITH wd AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS word FROM wd),
        |c AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY n DESC, word) AS rk FROM c),
        |top AS (SELECT doc_id, word AS top_word, n AS top_n FROM ranked WHERE rk = 1),
        |s AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct FROM c GROUP BY 1),
        |adj AS (SELECT doc_id, CAST(len(list_filter(
        |    [ws[i] = ws[i+1] for i in range(1, len(ws))], x -> x)) AS BIGINT) AS n_adjacent
        |  FROM wd)
        |SELECT s.doc_id, n_words, n_distinct,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
        |  top_word, top_n,
        |  CAST(top_n AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_ratio,
        |  n_adjacent,
        |  CAST(CASE WHEN CAST(top_n AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.2
        |    THEN 1 ELSE 0 END AS BIGINT) AS repetitive
        |FROM s JOIN top ON s.doc_id = top.doc_id JOIN adj ON s.doc_id = adj.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "text_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS BIGINT) AS bucket
        |  FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, n_tokens, bucket, cum_tokens,
        |  bucket * 1000000 + CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 256.0) AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_select_budget" ->
      s"""WITH m AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    (CAST(${sqlHits(stopEn)} AS DOUBLE)
         |       / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)) * 0.5
         |    + (CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |       / CAST(length(text) AS DOUBLE)) * 0.25
         |    + (CAST(length(text) AS DOUBLE)
         |       / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)) * 0.05
         |      AS quality_score
         |  FROM documents),
         |c AS (SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM m)
         |SELECT doc_id, n_tokens, quality_score, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < 10000 ORDER BY doc_id""".stripMargin,
    "text_source_stats" ->
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
         |  CAST(SUM(${sqlHits(stopEn)}) AS DOUBLE)
         |    / CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) AS stop_ratio,
         |  CAST(SUM(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))) AS DOUBLE)
         |    / CAST(SUM(length(text)) AS DOUBLE) AS punct_ratio
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "text_vocab_coverage" ->
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY 1, 2),
        |v AS (SELECT word FROM (SELECT word, SUM(cnt) AS n FROM c GROUP BY 1
        |    ORDER BY n DESC, word LIMIT 100)),
        |j AS (SELECT c.doc_id, c.cnt,
        |    CASE WHEN v.word IS NULL THEN c.cnt ELSE CAST(0 AS BIGINT) END AS oov
        |  FROM c LEFT JOIN v ON c.word = v.word)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  CAST(SUM(oov) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS oov_ratio
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
