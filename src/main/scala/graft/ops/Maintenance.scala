package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.Tables

/** The nightly-maintenance orchestrator: ONE entry point that walks every
  * persisted artifact a steady-state deployment grows — ANN indexes,
  * MinHash / embedding near-dup indexes, streaming event-sink dirs — and
  * applies each family's own lifecycle discipline (drift-triggered retrain
  * decision, tombstone fold, small-file compaction, replay-marker
  * watermark GC), returning a one-row-per-target ops report.
  *
  * Every action here already exists as a first-class per-family call
  * ([[Similarity.maybeRetrain]] / [[Similarity.compactIndex]],
  * [[Dedup.compactMinhashIndex]] / [[Dedup.compactEmbeddingIndex]],
  * [[graft.streaming.Streams.compactSinkDir]]); what a production pipeline
  * actually schedules is "maintain everything I own, tell me what you
  * did" — the pyetl config-first shape — so the orchestrator is
  * deliberately thin: dispatch + audit collection, no family logic of its
  * own (a behavior change in a family's compactor is automatically a
  * behavior change here, never a divergence).
  *
  * At 100 TB the report is the point as much as the work: file counts
  * before/after are the compaction-debt signal, rows_written sizes the
  * rewrite, and retrain_fired closes the drift-monitor loop — the numbers
  * an on-call trends nightly without opening any index.
  */
object Maintenance {

  /** One maintenance target.
    *
    * @param kind          "ann_index" | "minhash_index" | "embedding_index"
    *                      | "sink_dir"
    * @param path          the artifact's base path (the same path the
    *                      family's save/append/compact calls take)
    * @param orderCol      sink_dir only: the column compaction clusters
    *                      output files on (min/max skipping on the read key)
    * @param markerBase    sink_dir only: where the dir's commit protocol
    *                      lives when shared (multi-dir sinks commit several
    *                      dirs under one marker base); defaults to the dir
    * @param retrainCorpus ann_index only: everything the index serves —
    *                      feeding it enables the [[Similarity.maybeRetrain]]
    *                      decision before compaction
    * @param retrainOn     ann_index only: the trailing arrival window to
    *                      train replacement models on (None = retrainCorpus)
    * @param lastK         ann_index only: drift-decision window
    * @param minTripped    ann_index only: trips within the window that fire
    * @param rebuild       embedding_index only: run the
    *                      [[Dedup.maybeRebuildEmbeddingIndex]] decision —
    *                      regeometry in place when the live corpus outgrew
    *                      the built bucket width (recommendedBits(n) >
    *                      built bits)
    */
  final case class Target(
      kind: String,
      path: String,
      orderCol: Option[String] = None,
      markerBase: Option[String] = None,
      retrainCorpus: Option[DataFrame] = None,
      retrainOn: Option[DataFrame] = None,
      lastK: Int = 3,
      minTripped: Int = 2,
      rebuild: Boolean = false)

  val Kinds: Set[String] =
    Set("ann_index", "minhash_index", "embedding_index", "sink_dir",
      "skip_manifest")

  /** Run maintenance over every target, in order, and report. Retrain (when
    * enabled) is decided BEFORE the compaction so a firing rebuild is not
    * preceded by a wasted rewrite of the generation it replaces.
    *
    * Report: (path, kind, retrain_checked, retrain_fired, files_before,
    * files_after, rows_written, wall_ms) — embedding_index sums its two
    * data tables (vectors + buckets); ann_index reports its PQ-codes table
    * (the int8 sibling and drift series are compacted in the same call).
    * The retrain_* columns carry each family's monitor→action decision:
    * the drift-decided model retrain for ann_index, the outgrown-geometry
    * rebucket ([[Dedup.maybeRebuildEmbeddingIndex]]) for embedding_index
    * targets with `rebuild` set.
    */
  /** @param fsck optional integrity phases around the pass: "pre" runs
    *   [[Fsck]] over every target BEFORE any maintenance mutates it and
    *   aborts loudly on `fail`-severity damage (compacting a
    *   mixed-generation or duplicate-row artifact would bake the damage
    *   into the rewritten files — surgery first, then maintenance);
    *   "post" validates the pass's own output the same way; "both" does
    *   both; "none" (default) keeps the round-9 behavior. Note the abort
    *   is deliberate even when maintenance itself would heal the finding
    *   (replayed-append duplicates that compaction folds): a nightly
    *   that WANTS the heal runs with fsck = "none"/"post" — the pre
    *   phase exists for the operator who must not mutate damaged state
    *   unseen.
    */
  /** Filesystem-qualified form of a target path, so the distinct-targets
    * contract check can't be fooled by `/a/b` vs `/a/b/` vs `file:/a/b`.
    */
  private def normalizedPath(s: SparkSession, p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toString
  }

  def runAll(s: SparkSession, targets: Seq[Target],
      maxRecordsPerFile: Long = 1L * 1024 * 1024,
      fsck: String = "none"): DataFrame = {
    require(targets.nonEmpty, "maintenance needs at least one target")
    require(Set("none", "pre", "post", "both").contains(fsck),
      s"fsck phase must be none|pre|post|both: $fsck")
    targets.foreach { t =>
      require(Kinds.contains(t.kind),
        s"unknown maintenance kind '${t.kind}' (expected one of " +
          s"${Kinds.toSeq.sorted.mkString(", ")}): ${t.path}")
      require(t.kind == "ann_index" || t.retrainCorpus.isEmpty,
        s"retrain only applies to ann_index targets: ${t.path}")
      require(t.retrainOn.isEmpty || t.retrainCorpus.isDefined,
        s"retrainOn without retrainCorpus would silently skip the retrain " +
          s"check: ${t.path}")
      require(t.kind == "embedding_index" || !t.rebuild,
        s"rebuild only applies to embedding_index targets: ${t.path}")
      require(Set("sink_dir", "skip_manifest").contains(t.kind) ||
          t.orderCol.isEmpty,
        s"orderCol only applies to sink_dir/skip_manifest targets: ${t.path}")
      require(t.kind == "sink_dir" || t.markerBase.isEmpty,
        s"markerBase only applies to sink_dir targets: ${t.path}")
    }
    // the overlapped passes below MUTATE their target dirs (compaction,
    // in-place rewrites, retrain) relying on "targets are distinct dirs";
    // under the former sequential loop a duplicated target was merely
    // wasteful — overlapped, two passes rewriting one dir race and can
    // corrupt it, so the contract is now validated, not just stated
    val dupes = targets.groupBy(t => normalizedPath(s, t.path))
      .collect { case (p, ts) if ts.size > 1 => p }
    require(dupes.isEmpty,
      s"maintenance targets must be distinct directories (duplicated: " +
        s"${dupes.mkString(", ")})")
    if (fsck == "pre" || fsck == "both") assertClean(s, targets, "pre")
    // independent per-directory passes: overlap them (guide §2.6 — the
    // same discipline as Fsck.runAll; targets are distinct dirs by
    // contract, each pass is a chain of small jobs whose inter-job driver
    // gaps dominate at nightly-table sizes). Row order is input order, so
    // the report is identical to the sequential loop's; wall_ms times each
    // target's own pass as before (overlapped passes time overlapped wall).
    val rows = Par.mapOrdered(targets,
        inFlight = Par.gate(s.sparkContext.defaultParallelism)) { t =>
      val start = System.nanoTime()
      val (checked, fired, audit) = t.kind match {
        case "ann_index" =>
          val fired = t.retrainCorpus match {
            case Some(corpus) =>
              // sweep crashed appends' drift partials BEFORE the decision:
              // a never-committed batch's drift row must not count toward
              // minTripped-of-lastK (compactIndex would drop the row right
              // after — deciding first off the raw table would let a
              // phantom row fire a corpus-scale rebuild). Same sweep
              // appendToIndexAt runs before reading the series.
              graft.streaming.Streams.dropUncommittedBatchFiles(s,
                s"${t.path}/drift.parquet", t.path)
              graft.streaming.Streams.dropStaleStaging(s,
                s"${t.path}/drift.parquet")
              Some(Similarity.maybeRetrain(s, t.path,
                corpus, t.retrainOn, t.lastK, t.minTripped))
            case None => None
          }
          (fired.isDefined, fired.getOrElse(false),
            Similarity.compactIndex(s, t.path, maxRecordsPerFile))
        case "minhash_index" =>
          // the deletion-contract decision FIRST (the addition-only
          // components fold may claim connectivity through deleted
          // bridges): it reads the tombstone file, which the compaction
          // below folds away. checked = a persisted labeling exists;
          // fired = tombstoned ids appeared in it and the labels rebuilt.
          val labelled = {
            val p = new org.apache.hadoop.fs.Path(
              Dedup.componentLabelsPath(t.path))
            p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
          }
          val (rebuilt, _) =
            if (labelled) Dedup.maybeRebuildComponents(s, t.path)
            else (false, 0L)
          (labelled, rebuilt,
            Dedup.compactMinhashIndex(s, t.path, maxRecordsPerFile))
        case "embedding_index" =>
          // the family's monitor→action decision first, like ann_index:
          // a regeometry rewrites both tables anyway, so a firing rebuild
          // should not be preceded by a wasted compaction of the old
          // bucket set
          val rebuilt =
            if (t.rebuild) Some(Dedup.maybeRebuildEmbeddingIndex(s, t.path))
            else None
          val ((vb, va, vr), (bb, ba, br)) =
            Dedup.compactEmbeddingIndex(s, t.path, maxRecordsPerFile)
          (rebuilt.isDefined, rebuilt.getOrElse(false),
            (vb + bb, va + ba, vr + br))
        case "sink_dir" =>
          val order = t.orderCol.getOrElse(
            throw new IllegalArgumentException(
              s"sink_dir target needs orderCol: ${t.path}"))
          (false, false, graft.streaming.Streams.compactSinkDir(s, t.path,
            col(order), maxRecordsPerFile, t.markerBase))
        case "skip_manifest" =>
          // with an orderCol: compact the data dir (compactFlat rebuilds
          // the manifest it swaps away — stats get TIGHTER with the
          // re-clustering); without: refresh stats in place, healing the
          // fsck coverage warn appends leave
          t.orderCol match {
            case Some(o) =>
              (false, false, Layout.compactFlat(s, t.path, col(o),
                maxRecordsPerFile))
            case None =>
              // INCREMENTAL refreshes by default: a nightly append pays
              // refresh ∝ the append, not the corpus — the prior full
              // rebuild re-hashed every row of every file on every pass
              // (a large recurring cost at the 100k-file tables this
              // targets) to heal a RARE hazard. The one damage the
              // incrementals deliberately can't see — a file rewritten
              // in place under its old name — is exactly what fsck's
              // sampled stats/Bloom checks detect, so the full re-scan
              // heal runs only when a sample check fails (the
              // monitor→action shape, reported as checked/fired below).
              Layout.refreshManifestIncremental(s, t.path)
              Layout.refreshBloomManifestIncremental(s, t.path)
              // the rewritten-in-place detector: a WIDE sample (16 files,
              // not fsck's 1-file report default — the heal decision
              // deserves more evidence than the nightly report row), and
              // a failing sample must fail TWICE before triggering
              // corpus-scale work: fsck deliberately counts a throwing
              // sample read as damage (conservative for a report), but
              // flaky IO or a concurrent compaction swapping the sampled
              // file must not buy two full re-scans of a 100k-file
              // table. Detection stays SAMPLED — an operator who knows a
              // specific file was rewritten heals explicitly with
              // refreshManifest/refreshBloomManifest.
              def sampleDamaged(): Boolean = Fsck.fsckSkipManifest(
                  s, t.path, sampleFiles = 16)
                .filter(col("status") === "fail" &&
                  col("check").isin("stats_sample", "bloom_sample"))
                .limit(1).count() > 0
              val damaged = sampleDamaged() && sampleDamaged()
              // the second monitor→action of this target: a Bloom built
              // for fewer rows than its files now hold self-reports
              // saturation (expectedFpp) — rebuild sized to measured
              // per-file counts; right-sized manifests decline. Runs
              // BEFORE the heal because its rebuild IS a full
              // corpus-scan writeBloomManifest: when the manifest is
              // both damaged and undersized, one right-sized rebuild
              // serves both needs instead of healing at the old
              // geometry and immediately rebuilding again.
              val (rebloomed, _) = Layout.maybeRebloom(s, t.path)
              if (damaged) {
                Layout.refreshManifest(s, t.path)
                if (!rebloomed) Layout.refreshBloomManifest(s, t.path)
              }
              // recursive, like the manifest itself — a partitioned
              // table's audit must count its nested files, not report 0.
              // (This pass lists the tree several times — each helper is
              // deliberately self-contained; the walk is names-only and
              // measured at ~1.4 s per 100k files in the
              // partitioned_manifest scale probe, an acceptable nightly
              // audit price for not threading listings across five
              // functions' contracts.)
              val n = Layout.listDataFiles(s, t.path).size.toLong
              (true, damaged || rebloomed, (n, n, 0L))
          }
      }
      val (before, after, written) = audit
      (t.path, t.kind, checked, fired, before, after, written,
        (System.nanoTime() - start) / 1000000L)
    }
    import s.implicits._
    val report = rows.toDF("path", "kind", "retrain_checked", "retrain_fired",
      "files_before", "files_after", "rows_written", "wall_ms")
    if (fsck == "post" || fsck == "both") assertClean(s, targets, "post")
    report
  }

  /** The fsck gate behind [[runAll]]'s pre/post phases: validate every
    * target and abort on any `fail`-severity row — named findings in the
    * error, so the on-call starts at the damage, not at a stack trace.
    */
  private def assertClean(s: SparkSession, targets: Seq[Target],
      phase: String): Unit = {
    val fails = Fsck.runTargets(s,
        targets.map(t => (t.kind, t.path,
          if (t.kind == "sink_dir") t.markerBase else None)))
      .filter(col("status") === "fail")
      .select(col("path"), col("kind"), col("check"), col("detail"))
      .collect()
    if (fails.nonEmpty) throw new IllegalStateException(
      s"$phase-maintenance fsck found ${fails.length} fail-severity " +
        "finding(s); aborting before " +
        (if (phase == "pre") "mutating any artifact" else "reporting") +
        ": " + fails.take(5).map(r =>
          s"${r.getString(0)} [${r.getString(1)}] ${r.getString(2)}: " +
            r.getString(3)).mkString("; "))
  }

  /** Config-driven form — the [[graft.etl.Pipeline.runConfig]] discipline
    * for maintenance, so the nightly job is a JSON document, not code:
    *
    * {{{
    * {"maxRecordsPerFile": 1048576,
    *  "fsck": "pre",              // optional: none|pre|post|both
    *  "targets": [
    *    {"kind": "ann_index", "path": "/idx/ann",
    *     "retrain": {"corpusPath": "/corpus/vectors",
    *                 "trainOnPath": "/corpus/last30d",   // optional
    *                 "lastK": 3, "minTripped": 2}},      // optional
    *    {"kind": "minhash_index", "path": "/idx/mh"},
    *    {"kind": "embedding_index", "path": "/idx/emb", "rebuild": true},
    *    {"kind": "sink_dir", "path": "/sinks/audit",
    *     "orderCol": "batch_id", "markerBase": "/sinks/base"},
    *    {"kind": "skip_manifest", "path": "/lake/events"},          // refresh stats
    *    {"kind": "skip_manifest", "path": "/lake/days",
    *     "orderCol": "day"}]}                                       // compact + re-manifest
    * }}}
    *
    * retrain corpus/trainOn paths are parquet with the index's
    * (vec_id, embedding) schema.
    */
  def runConfig(s: SparkSession, configJson: String): DataFrame = {
    val root = new ObjectMapper().readTree(configJson)
    require(root.hasNonNull("targets"), "config needs targets")
    def optField(n: JsonNode, name: String): Option[JsonNode] =
      Option(n.get(name)).filterNot(_.isNull)
    val targets = root.get("targets").elements().asScala.map { t =>
      require(t.hasNonNull("kind") && t.hasNonNull("path"),
        "every target needs kind and path")
      val kind = t.get("kind").asText
      val path = t.get("path").asText
      // validate BEFORE touching any retrain parquet: a bad kind or a
      // retrain block on the wrong kind must fail with the named require,
      // not whatever AnalysisException the eager read happens to throw
      require(Kinds.contains(kind),
        s"unknown maintenance kind '$kind' (expected one of " +
          s"${Kinds.toSeq.sorted.mkString(", ")}): $path")
      val retrain = optField(t, "retrain")
      require(kind == "ann_index" || retrain.isEmpty,
        s"retrain only applies to ann_index targets: $path")
      retrain.foreach(r => require(r.hasNonNull("corpusPath"),
        "retrain needs corpusPath"))
      Target(
        kind = kind,
        path = path,
        orderCol = optField(t, "orderCol").map(_.asText),
        markerBase = optField(t, "markerBase").map(_.asText),
        rebuild = optField(t, "rebuild").exists(_.asBoolean),
        retrainCorpus = retrain.map(r => s.read.parquet(r.get("corpusPath").asText)),
        retrainOn = retrain.flatMap(optField(_, "trainOnPath"))
          .map(p => s.read.parquet(p.asText)),
        lastK = retrain.flatMap(optField(_, "lastK")).map(_.asInt).getOrElse(3),
        minTripped = retrain.flatMap(optField(_, "minTripped")).map(_.asInt)
          .getOrElse(2))
    }.toSeq
    runAll(s, targets,
      optField(root, "maxRecordsPerFile").map(_.asLong)
        .getOrElse(1L * 1024 * 1024),
      optField(root, "fsck").map(_.asText).getOrElse("none"))
  }

  // ------------------------------------------------------------ gate form
  // the scratch world (one per session+corpus, the SessionMemo discipline):
  // small deterministic slices of the corpus built into one artifact of
  // every family, each grown past its build by marker-committed appends —
  // so the gate/bench entry times what a nightly maintenance PASS costs
  // over already-built artifacts, not the builds themselves
  private val worldMemo = new SessionMemo[String, String]

  private[ops] def buildWorld(s: SparkSession, dir: String): String = {
    worldMemo(s, dir) {
      val base = SessionMemo.scratchPath(s, "graft_maint", dir)
      val emb = Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding"), col("label"))
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      // ann: build on one slice, baseline, append two in-distribution
      // nightly batches (drift rows recorded — the retrain decision later
      // reads them and correctly declines)
      val annBase = emb.filter(col("vec_id") % 8 === 0)
      val cents = Similarity.centroids(annBase)
      val cb = Similarity.pqCodebooks(annBase)
      Similarity.saveIndex(s"$base/ann", AnnSpec.Ivfpq, AnnModel(None,
        Some(cents), Some(cb), Some(Similarity.buildIvfpqIndex(annBase, cents, cb))))
      Similarity.recordDriftBaseline(s, s"$base/ann", annBase, cb, Some(cents))
      // nightlies = re-id'd halves of the baseline corpus: in-distribution
      // by construction (the decision below must decline), and the re-id
      // keeps the appends from colliding with live ids
      Similarity.appendToIndexAt(s, s"$base/ann",
        annBase.filter(col("vec_id") % 16 === 0)
          .withColumn("vec_id", col("vec_id") + 100000000L), 0L)
      Similarity.appendToIndexAt(s, s"$base/ann",
        annBase.filter(col("vec_id") % 16 === 8)
          .withColumn("vec_id", col("vec_id") + 200000000L), 1L)
      // minhash: build on half the docs, append a quarter
      Dedup.saveMinhashIndex(s, docs.filter(col("doc_id") % 2 === 0),
        s"$base/mh")
      Dedup.appendToMinhashIndex(s, docs.filter(col("doc_id") % 4 === 1),
        s"$base/mh")
      // embedding near-dup: same build+append shape
      Dedup.saveEmbeddingIndex(s, emb.filter(col("vec_id") % 8 === 4),
        s"$base/emb")
      Dedup.appendToEmbeddingIndex(s, emb.filter(col("vec_id") % 8 === 5),
        s"$base/emb")
      // event sink: three marker-committed micro-batches of verdict rows
      (0L until 3L).foreach { b =>
        val batch = emb.filter(col("vec_id") % 16 === b + 8)
          .select(col("vec_id"), lit(b).as("batch_id"))
        graft.streaming.Streams.commitBatch(s, s"$base/sink", b)(
          (s"$base/sink", stg => batch.write.parquet(stg)))
      }
      // durable aggregate state: two watermark-fenced folds
      val ev = Tables(s, dir).events
      Seq(0L, 1L).foreach(b => graft.etl.JsonEtl.foldAt(s, s"$base/agg",
        ev.filter(col("event_id") % 2 === b), b, graft.etl.StateKind.Agg()))
      // durable sketch states (meta-stamped): one per mergeable algebra
      // the generalized state_dir fsck audits — quantile and audience
      Seq("qstate" -> graft.etl.StateKind.Quantile(),
          "astate" -> graft.etl.StateKind.Audience()).foreach {
        case (dirName, kind) => Seq(0L, 1L).foreach(b =>
          graft.etl.JsonEtl.foldAt(s, s"$base/$dirName",
            ev.filter(col("event_id") % 2 === b), b, kind))
      }
      // training handoff: one staged shard export with its manifest
      graft.ops.TextAnalysis.exportShards(docs, s"$base/export",
        numShards = 4)
      // drift monitoring: one stamped numeric PSI baseline
      Profile.savePsiBaseline(
        Tables(s, dir).documents.filter(col("doc_id") % 2 === 0),
        s"$base/psi")
      // data skipping: a shipdate-clustered lineitem slice + its manifest
      Tables(s, dir).lineitem.filter(col("l_orderkey") % 4 === 0)
        .repartitionByRange(4, col("l_shipdate"))
        .write.parquet(s"$base/skip")
      Layout.writeManifest(s, s"$base/skip", Seq("l_shipdate"))
      // join view: dim seeded, two marker-committed fact folds
      val orders = Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_totalprice"))
      graft.streaming.Streams.seedJoinDim(
        Tables(s, dir).customer.select(col("c_custkey"), col("c_name")),
        s"$base/jv")
      graft.etl.JsonEtl.joinUpsertLeftAt(s, s"$base/jv",
        orders.filter(col("o_orderkey") % 2 === 0), 0L, Seq("c_custkey"))
      graft.etl.JsonEtl.joinUpsertLeftAt(s, s"$base/jv",
        orders.filter(col("o_orderkey") % 2 === 1), 1L, Seq("c_custkey"))
      base
    }
  }

  /** Gate/bench form (rows-only — artifact state is engine-internal): one
    * nightly maintenance pass over a scratch world holding one artifact of
    * every family, with the ann retrain decision enabled (in-distribution
    * appends — it declines; the firing path is SimilaritySpec territory).
    * One row per target.
    */
  def opsMaintenanceReport(s: SparkSession, dir: String): DataFrame = {
    val base = buildWorld(s, dir)
    // everything the scratch ann index serves: its build corpus plus the
    // two re-id'd nightly appends (mirrors buildWorld)
    val annBase = Tables(s, dir).embeddings
      .select(col("vec_id"), col("embedding"), col("label"))
      .filter(col("vec_id") % 8 === 0)
    val corpus = annBase
      .unionByName(annBase.filter(col("vec_id") % 16 === 0)
        .withColumn("vec_id", col("vec_id") + 100000000L))
      .unionByName(annBase.filter(col("vec_id") % 16 === 8)
        .withColumn("vec_id", col("vec_id") + 200000000L))
    runAll(s, Seq(
      Target("ann_index", s"$base/ann", retrainCorpus = Some(corpus)),
      Target("minhash_index", s"$base/mh"),
      Target("embedding_index", s"$base/emb"),
      Target("sink_dir", s"$base/sink", orderCol = Some("vec_id")),
      Target("skip_manifest", s"$base/skip", orderCol = Some("l_shipdate"))))
      .orderBy(col("path"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ops_maintenance_report" -> (opsMaintenanceReport _))

  val oracles: Map[String, String] = Map.empty
}
