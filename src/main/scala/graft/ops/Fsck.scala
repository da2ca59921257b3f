package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consistency validation (fsck) for the persisted artifacts — the checks
  * every maintenance and serving path ASSUMES hold, run explicitly. The
  * lifecycle calls each preserve their own invariants (spec-pinned), but a
  * production deployment also wants the direct question answered nightly:
  * "do the artifacts on disk satisfy the invariants right now?" — after a
  * crash, an operator's manual surgery, a filesystem hiccup, or a version
  * skew between writers, the assumption is exactly what breaks first.
  *
  * The checks are the failure modes the maintenance code guards against,
  * verified from the artifact alone:
  *
  *   - ANN index: every live id carries exactly m complete PQ code rows
  *     (an incomplete id silently VANISHES from results — the ADC
  *     `n_subs = m` completeness filter drops it, the worst failure being
  *     invisible); every code's ivf_cell exists in the centroid table (a
  *     foreign cell id = mixed model generations, the failure
  *     [[Similarity.retrainIndex]]'s staged promote exists to prevent);
  *     the int8 sibling's id set matches the codes table; crashed appends'
  *     uncommitted batch files; leftover staging/parked-generation dirs;
  *     drift-monitoring state (table without baseline = a broken monitor,
  *     no table = unmonitored).
  *   - MinHash index: one signature row per live doc with a uniform
  *     signature width (a doc with two rows double-generates candidates;
  *     mixed widths break band grouping silently).
  *   - Embedding index: vectors and buckets agree on the live id set (a
  *     vector without buckets never surfaces as a candidate; buckets
  *     without a vector fail verification joins) and bucket width is
  *     uniform per vector (the regeometry crash shape — self-healing at
  *     the next rebuild decision, but visible until then).
  *   - Event-sink dirs: batch files whose commit marker is missing (the
  *     crash window's partial rows — swept by compaction, visible to
  *     readers until then) and redundant markers at or below the
  *     watermark.
  *
  * Severity: `fail` = consumers can return wrong/missing results NOW;
  * `warn` = hygiene debt with a defined self-heal path (crash leftovers a
  * retry or compaction sweeps, orphan tombstones, an unmonitored index);
  * `ok` otherwise. Cost: column-pruned id-set aggregations over the
  * artifact tables (never the corpus) plus driver-side listings — the
  * audit tier, same as [[Similarity.describeIndex]].
  */
object Fsck {

  private final case class Check(check: String, status: String,
      observed: Long, detail: String)

  private def ok(name: String, detail: String = "") =
    Check(name, "ok", 0L, detail)
  private def failIf(name: String, n: Long, detail: String) =
    Check(name, if (n > 0) "fail" else "ok", n, if (n > 0) detail else "")
  private def warnIf(name: String, n: Long, detail: String) =
    Check(name, if (n > 0) "warn" else "ok", n, if (n > 0) detail else "")

  private def fsOf(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def exists(s: SparkSession, p: String): Boolean =
    fsOf(s, p).exists(new Path(p))

  /** A dir that is readable AS parquet: exists and holds at least one
    * parquet file. The append protocol's own crash window produces
    * exists-but-empty dirs (`replaceBatchFiles` mkdirs the target before
    * any rename lands), and `spark.read.parquet` on one throws instead
    * of returning empty — a validator must survive exactly the damaged
    * states it exists to diagnose, so every OPTIONAL artifact read here
    * gates on this, not on bare existence.
    */
  private def hasParquet(s: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = fsOf(s, dir)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Marker files at or below the committed watermark — fold debt the
    * next compaction's watermark GC collects. Shared by every kind with
    * a `<base>_batches` replay protocol.
    */
  private def redundantMarkers(s: SparkSession, markerBase: String): Long = {
    val wm = graft.streaming.Streams.committedWatermark(s, markerBase)
    val mbP = new Path(s"${markerBase}_batches")
    val fs = fsOf(s, s"${markerBase}_batches")
    if (!fs.exists(mbP)) 0L
    else fs.listStatus(mbP).toSeq
      .filter(_.getPath.getName.matches("\\d+"))
      .count(_.getPath.getName.toLong <= wm).toLong
  }

  /** Distinct ids of `b<id>-*` batch files in a dir whose batch was never
    * marker-committed at `markerBase` — a crashed append's leftovers. The
    * retry (or the next compaction's sweep) REPLACES them; until then a
    * reader of the raw dir sees the partial rows.
    */
  private def uncommittedBatchIds(s: SparkSession, dir: String,
      markerBase: String): Seq[Long] = {
    val dirP = new Path(dir)
    val fs = fsOf(s, dir)
    if (!fs.exists(dirP)) return Nil
    val pat = "^b(\\d+)-.*".r
    fs.listStatus(dirP).toSeq
      .collect { case st if st.isFile =>
        st.getPath.getName match {
          case pat(id) => Some(id.toLong)
          case _ => None
        }
      }
      .flatten.distinct
      .filterNot(graft.streaming.Streams.isBatchCommitted(s, markerBase, _))
  }

  /** Leftover staging / parked-generation dirs from crashed maintenance —
    * every producer rebuilds its staging from scratch on retry, so these
    * are dead weight (and [[graft.streaming.Streams.dropStaleStaging]] /
    * the compactions sweep them), but their presence means a crashed job
    * nobody retried. Only NON-EMPTY dirs count: a successful
    * `replaceBatchFiles` deletes its per-batch staging child but leaves
    * the empty `_staging` parent, which is protocol residue, not debt.
    */
  private def stagingLeftovers(s: SparkSession, candidates: Seq[String]): Long =
    candidates.count { c =>
      val p = new Path(c)
      val fs = fsOf(s, c)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }.toLong

  /** A missing or exists-but-empty REQUIRED artifact table: the family's
    * report degrades to one `index_readable` fail row plus the hygiene
    * checks that don't need the table — [[fsckAggState]]'s
    * `state_readable` discipline applied to every family, because a
    * validator must survive exactly the damaged states it exists to
    * diagnose (one destroyed index must not abort the whole nightly
    * [[runAll]] for the healthy ones).
    */
  private def unreadable(s: SparkSession, path: String, kind: String,
      missing: String, stagingCandidates: Seq[String]): DataFrame =
    toDf(s, path, kind, Seq(
      Check("index_readable", "fail", 1L,
        s"required artifact table missing or empty: $missing"),
      warnIf("staging_leftovers", stagingLeftovers(s, stagingCandidates),
        "crashed maintenance staging/parked dirs present")))

  // ------------------------------------------------------------ ANN index
  /** An ANN index ([[Similarity.saveIndex]]): the parts its `_ann_spec`
    * stamp requires must be readable, then codes, cells, the int8
    * sibling, the batch protocol and the drift monitor are audited.
    */
  def fsckAnnIndex(s: SparkSession, path: String): DataFrame = {
    import Similarity.{CentroidsPart, CodesPart, partPath}
    val codesDir = partPath(path, CodesPart)
    val ts = s"$path/tombstones.parquet"
    val annStaging = Seq(
      s"${path}_retrain_staging", s"${path}_retrain_old",
      s"${codesDir}_staging", s"$path/drift.parquet_staging",
      s"$codesDir.compacting", s"$path/drift.parquet.compacting")
    // the required parts follow the stamped shape; a missing or
    // unparseable stamp is itself an unreadable index
    val spec = scala.util.Try(Similarity.indexSpec(s, path)) match {
      case scala.util.Success(sp) => sp
      case scala.util.Failure(_) =>
        return unreadable(s, path, "ann_index", s"$path/_ann_spec", annStaging)
    }
    val missing = (Similarity.modelParts(spec) :+ CodesPart)
      .map(partPath(path, _)).find(!hasParquet(s, _))
    if (missing.isDefined)
      return unreadable(s, path, "ann_index", missing.get, annStaging)
    // the codes table feeds every check below — persist the
    // tombstone-anti-joined view once so the audit pays ONE codes scan,
    // not one per count() action (the advertised audit pricing)
    val codes = s.read.parquet(codesDir)
    val live = graft.ops.Similarity.applyTombstones(s, codes, ts, "vec_id")
      .persist()
    try {
    // every live id: exactly m rows, all m distinct subs — anything else
    // is invisible loss (the ADC completeness filter drops the id)
    val m = graft.ops.Similarity.PqM.toLong
    val incomplete = live.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("sub")).as("ns"))
      .filter(col("n") =!= m || col("ns") =!= m)
      .count()

    // every code row's cell must exist in the centroid table — a foreign
    // cell is a mixed model generation (codes from one build, centroids
    // from another): those rows can never be probed, or probe wrongly
    val foreignCells = spec.nprobe.fold(0L) { _ =>
      val cents = s.read.parquet(partPath(path, CentroidsPart))
      live.select(col("ivf_cell").as("cell")).distinct()
        .join(cents.select(col("cell")).distinct(), Seq("cell"), "left_anti")
        .count()
    }

    val tombOrphans =
      if (!hasParquet(s, ts)) 0L
      else s.read.parquet(ts).select(col("vec_id")).distinct()
        .join(codes.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
        .count()

    val int8Path = s"$path/int8_codes.parquet"
    val (int8Extra, int8Missing) =
      if (!hasParquet(s, int8Path)) (0L, 0L)
      else {
        val i8 = graft.ops.Similarity.applyTombstones(s,
          s.read.parquet(int8Path), ts, "vec_id")
          .select(col("vec_id")).distinct()
        val liveIds = live.select(col("vec_id")).distinct()
        (i8.join(liveIds, Seq("vec_id"), "left_anti").count(),
          liveIds.join(i8, Seq("vec_id"), "left_anti").count())
      }

    val uncommitted = Seq(codesDir, s"$path/drift.parquet", int8Path)
      .flatMap(uncommittedBatchIds(s, _, path)).distinct.size.toLong

    val staging = stagingLeftovers(s, Seq(
      s"${path}_retrain_staging", s"${path}_retrain_old",
      s"${codesDir}_staging", s"$path/drift.parquet_staging",
      s"${int8Path}_staging", s"$codesDir.compacting",
      s"$path/drift.parquet.compacting", s"$int8Path.compacting"))

    val driftCheck = {
      val dp = s"$path/drift.parquet"
      if (!hasParquet(s, dp)) Check("drift_monitored", "warn", 0L,
        "no drift table — appends are unmonitored")
      else if (s.read.parquet(dp).filter(col("batch_id") === -1L).isEmpty)
        Check("drift_monitored", "fail", 1L,
          "drift table has no baseline row — driftReport cannot run")
      else ok("drift_monitored")
    }

    toDf(s, path, "ann_index", Seq(
      failIf("codes_complete", incomplete,
        s"live ids without exactly $m complete code rows — these vectors " +
          "silently vanish from every ADC shortlist"),
      failIf("cells_known", foreignCells,
        "code cells absent from the centroid table — mixed model generations"),
      if (int8Extra > 0)
        Check("int8_sibling", "fail", int8Extra,
          "int8 ids not live in the codes table — stale sibling artifact")
      else warnIf("int8_sibling", int8Missing,
        "live ids missing from the int8 sibling (zero-norm vectors are " +
          "legitimate; large counts mean a stale sibling)"),
      warnIf("uncommitted_batches", uncommitted,
        "crashed appends' batch files awaiting retry or compaction sweep"),
      warnIf("staging_leftovers", staging,
        "crashed maintenance staging/parked dirs present"),
      driftCheck,
      warnIf("tombstone_orphans", tombOrphans,
        "tombstoned ids that never existed in the codes table")))
    } finally { live.unpersist(); () }
  }

  // ------------------------------------------------------------ MinHash
  /** Unlike the ANN index, the dedup indexes append with plain
    * `mode("append")` of content-derived rows (signatures/buckets are
    * per-row functions of the doc), so there are no batch-prefixed files
    * to audit: a crash between append and marker leaves duplicate rows
    * that are LEGITIMATE pre-compaction state (compaction dedups them
    * losslessly — the documented at-least-once argument), and the
    * `one_row_per_doc` check here is precisely what surfaces them. The
    * marker protocol itself is still audited via fold debt.
    */
  def fsckMinhashIndex(s: SparkSession, path: String): DataFrame = {
    val ts = s"${path}_tombstones"
    if (!hasParquet(s, path))
      return unreadable(s, path, "minhash_index", path,
        Seq(s"$path.compacting", s"$path.old"))
    val sigs = s.read.parquet(path)
    val live = graft.ops.Similarity.applyTombstones(s, sigs, ts, "doc_id")
      .persist()
    try {
    val dupDocs = live.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val sigWidths = live.select(size(col("sig")).as("w")).distinct().count()

    val tombOrphans =
      if (!hasParquet(s, ts)) 0L
      else s.read.parquet(ts).select(col("doc_id")).distinct()
        .join(sigs.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .count()

    // the deletion contract's visibility: a persisted component labeling
    // referencing tombstoned ids may claim connectivity through deleted
    // bridges (nearDupGroupsIncremental is addition-only) until
    // maybeRebuildComponents runs
    val labelsDir = graft.ops.Dedup.componentLabelsPath(path)
    val tombLabels =
      if (!hasParquet(s, labelsDir) || !hasParquet(s, ts)) 0L
      else {
        val lab = s.read.parquet(labelsDir)
        val t = s.read.parquet(ts).select(col("doc_id").as("tid")).distinct()
        lab.join(t, col("doc_id") === col("tid"), "left_semi")
          .unionByName(
            lab.join(t, col("canonical_id") === col("tid"), "left_semi"))
          .distinct().count()
      }

    toDf(s, path, "minhash_index", Seq(
      warnIf("tombstoned_labels", tombLabels,
        "component labels referencing tombstoned docs — connectivity " +
          "through deleted bridges may be stale; run " +
          "maybeRebuildComponents (or the minhash maintenance action)"),
      failIf("one_row_per_doc", dupDocs,
        "docs with multiple signature rows — replayed appends awaiting " +
          "compaction, or candidates double-generate"),
      failIf("sig_width_uniform", math.max(0L, sigWidths - 1L),
        "mixed signature widths — band grouping silently misses candidates"),
      warnIf("staging_leftovers",
        stagingLeftovers(s, Seq(s"$path.compacting", s"$path.old")),
        "crashed compaction dirs present"),
      warnIf("markers_folded", redundantMarkers(s, path),
        "marker files at or below the watermark — fold debt, next " +
          "compaction collects them"),
      warnIf("tombstone_orphans", tombOrphans,
        "tombstoned ids that never existed in the signature table")))
    } finally { live.unpersist(); () }
  }

  // ------------------------------------------------------------ embedding
  /** Same plain-append discipline as [[fsckMinhashIndex]] — a crash
    * window's duplicate rows surface through the width check (they DO
    * double-generate candidates until compaction folds them, so fail is
    * the honest verdict); the marker protocol is audited via fold debt.
    */
  def fsckEmbeddingIndex(s: SparkSession, path: String): DataFrame = {
    val embStaging = Seq(
      s"$path/vectors.compacting", s"$path/buckets.compacting",
      s"$path/vectors.old", s"$path/buckets.old")
    if (!hasParquet(s, s"$path/vectors"))
      return unreadable(s, path, "embedding_index", s"$path/vectors", embStaging)
    if (!hasParquet(s, s"$path/buckets"))
      return unreadable(s, path, "embedding_index", s"$path/buckets", embStaging)
    val (vecs, buckets0) = graft.ops.Dedup.loadEmbeddingIndex(s, path)
    val vIds = vecs.select(col("vec_id")).distinct()
    val buckets = buckets0.persist()
    try {
    val bIds = buckets.select(col("vec_id")).distinct()
    val parity = vIds.join(bIds, Seq("vec_id"), "left_anti").count() +
      bIds.join(vIds, Seq("vec_id"), "left_anti").count()

    val (numTables, _) = graft.ops.Dedup.embeddingIndexGeometry(s, path)
    val badWidth = buckets.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") =!= numTables.toLong).count()

    val ts = s"$path/tombstones.parquet"
    val tombOrphans =
      if (!hasParquet(s, ts)) 0L
      else s.read.parquet(ts).select(col("vec_id")).distinct()
        .join(s.read.parquet(s"$path/vectors").select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
        .count()

    toDf(s, path, "embedding_index", Seq(
      failIf("vector_bucket_parity", parity,
        "ids present in only one of vectors/buckets — candidates or " +
          "verification silently miss them"),
      failIf("bucket_width_uniform", badWidth,
        s"vectors without exactly $numTables bucket rows — replayed appends " +
          "awaiting compaction, or mixed geometry (the regeometry crash " +
          "window; self-heals at the next rebuild check)"),
      warnIf("staging_leftovers", stagingLeftovers(s, Seq(
        s"$path/vectors.compacting", s"$path/buckets.compacting",
        s"$path/vectors.old", s"$path/buckets.old")),
        "crashed compaction dirs present"),
      warnIf("markers_folded", redundantMarkers(s, path),
        "marker files at or below the watermark — fold debt, next " +
          "compaction collects them"),
      warnIf("tombstone_orphans", tombOrphans,
        "tombstoned ids that never existed in the vectors table")))
    } finally { buckets.unpersist(); () }
  }

  // ------------------------------------------------------------ agg state
  /** The durable incremental-aggregate state
    * ([[graft.etl.JsonEtl.foldAt]]) — the one artifact whose replay
    * protection lives INSIDE it (the atomically-swapped fold watermark),
    * so the checks are about that: a state without a watermark cannot
    * fence replays (every re-delivered batch would double-count); a
    * parked `.old` generation means a crash mid-swap nobody retried
    * (self-heals at the next fold); duplicate key rows mean a corrupted
    * merge — the state is wrong NOW. Key columns are inferred from the
    * state algebra's naming contract (the shared count plus
    * sum_/sumsq_/min_/max_ per declared column), so both
    * [[graft.etl.JsonEtl.aggState]] and the N-column
    * [[graft.etl.JsonEtl.aggStateN]] audit correctly.
    */
  def fsckAggState(s: SparkSession, path: String): DataFrame = {
    // the crash-between-renames window leaves the LIVE path missing with
    // the old generation parked — the validator must diagnose that state,
    // not die reading a path that isn't there (the hasParquet principle)
    if (!hasParquet(s, path)) {
      val parked = exists(s, s"$path.old")
      return toDf(s, path, "agg_state", Seq(
        if (parked) Check("state_readable", "warn", 1L,
          "live state missing with a parked .old generation — the " +
            "crash-between-renames window; the next fold restores it")
        else Check("state_readable", "fail", 1L,
          "no aggregate state at this path"),
        warnIf("parked_generation", if (parked) 1L else 0L,
          "a crashed swap's parked generation — the next fold restores it"),
        warnIf("staging_leftovers",
          stagingLeftovers(s, Seq(s"$path.staging", s"$path.compacting")),
          "crashed fold staging dirs present")))
    }
    val state = s.read.parquet(path)
    // stat columns by the state algebra's naming contract (covers the
    // 1-column aggState AND the N-column aggStateN — sum_/sumsq_/min_/
    // max_ per declared column plus the shared count); everything else
    // is key. Matching on the fixed 1-column names would fold an
    // aggStateN table's stat columns into the key and miss exactly the
    // duplicate-key corruption this check exists for.
    val keyCols = state.columns.filterNot(c => c == "n_events" ||
      c.startsWith("sum_") || c.startsWith("sumsq_") ||
      c.startsWith("min_") || c.startsWith("max_")).toSeq
    val dupKeys =
      if (keyCols.isEmpty) 0L
      else state.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    val hasWm = exists(s, s"$path/_fold_watermark")
    toDf(s, path, "agg_state", Seq(
      ok("state_readable"),
      failIf("one_row_per_key", dupKeys,
        "duplicate key rows — a corrupted merge; reads double-count NOW"),
      if (hasWm) ok("watermark_present")
      else Check("watermark_present", "warn", 1L,
        "no fold watermark — replays cannot be fenced (not a " +
          "durable fold's artifact, or the stamp was deleted)"),
      warnIf("parked_generation",
        if (exists(s, s"$path.old")) 1L else 0L,
        "a crashed swap's parked generation — the next fold restores it"),
      warnIf("staging_leftovers",
        stagingLeftovers(s, Seq(s"$path.staging", s"$path.compacting")),
        "crashed fold staging dirs present")))
  }

  // ------------------------------------------------------------ state dir
  /** The generalized durable-state validator — [[fsckAggState]]'s
    * discipline extended to EVERY [[graft.etl.StateKind]], now that
    * states are self-describing (`_state_meta`): watermark present AND
    * parsable (an unparsable watermark reads as "no fence" and every
    * replay would double-fold), meta present with a kind the registry
    * knows (an unknown kind means a version skew or a hand edit: no fold
    * can safely touch the state), no parked `.old` generation, one row
    * per key — the key columns being the stamped kind's
    * [[graft.etl.StateKind.rowKey]] (day columns of windowed forms and the
    * sample's rank included); a state whose stamp does not parse falls
    * back to inferring them from column names ([[inferredRowKey]]), since
    * those are the states where the check matters most. Cost: one
    * key-count-sized aggregation over the state plus driver-side file
    * probes — audit tier.
    */
  def fsckStateDir(s: SparkSession, path: String): DataFrame = {
    if (!hasParquet(s, path)) {
      val parked = exists(s, s"$path.old")
      return toDf(s, path, "state_dir", Seq(
        if (parked) Check("state_readable", "warn", 1L,
          "live state missing with a parked .old generation — the " +
            "crash-between-renames window; the next fold restores it")
        else Check("state_readable", "fail", 1L,
          "no durable state at this path"),
        warnIf("parked_generation", if (parked) 1L else 0L,
          "a crashed swap's parked generation — the next fold restores it"),
        warnIf("staging_leftovers",
          stagingLeftovers(s, Seq(s"$path.staging", s"$path.compacting")),
          "crashed fold staging dirs present")))
    }
    val checks = scala.collection.mutable.ArrayBuffer[Check](
      ok("state_readable"))
    // watermark: present AND parsable — aggFoldWatermark throws on
    // garbage, which here must become the check's own fail row
    if (!exists(s, s"$path/_fold_watermark"))
      checks += Check("watermark_present", "warn", 1L,
        "no fold watermark — replays cannot be fenced (not a durable " +
          "fold's artifact, or the stamp was deleted)")
    else {
      checks += ok("watermark_present")
      checks += (try {
        graft.etl.JsonEtl.aggFoldWatermark(s, path); ok("watermark_parsable")
      } catch {
        case scala.util.control.NonFatal(_) =>
          Check("watermark_parsable", "fail", 1L,
            "unparsable fold watermark — every fold now throws (and a " +
              "hand 'fix' risks re-folding committed batches)")
      })
    }
    val meta = try Right(graft.etl.JsonEtl.stateMeta(s, path))
    catch { case scala.util.control.NonFatal(_) => Left(()) }
    meta match {
      case Left(_) =>
        checks += Check("meta_readable", "fail", 1L,
          "unreadable _state_meta — parameter fences cannot run")
      case Right(m) if m.isEmpty =>
        checks += Check("meta_readable", "warn", 1L,
          "no _state_meta stamp — a mistyped fold parameter would " +
            "silently degrade estimates (pre-meta artifact; the next " +
            "stamping fold adopts it)")
      case Right(m) =>
        checks += ok("meta_readable")
        checks += failIf("meta_kind_known",
          if (m.get("kind").exists(graft.etl.StateKind.names)) 0L else 1L,
          s"stamped kind '${m.getOrElse("kind", "<absent>")}' is not a " +
            "durable-fold family — version skew or hand edit")
    }
    val state = s.read.parquet(path)
    val stamped = meta.toOption.getOrElse(Map.empty[String, String])
    val keyCols = scala.util.Try(
      graft.etl.StateKind.fromStamp(stamped, path).rowKey)
      .getOrElse(inferredRowKey(state.columns.toSeq, stamped.get("kind")))
    checks += failIf("one_row_per_key",
      if (keyCols.isEmpty) 0L
      else state.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count(),
      "duplicate key rows — a corrupted merge; reads double-count NOW")
    checks += warnIf("parked_generation",
      if (exists(s, s"$path.old")) 1L else 0L,
      "a crashed swap's parked generation — the next fold restores it")
    checks += warnIf("staging_leftovers",
      stagingLeftovers(s, Seq(s"$path.staging", s"$path.compacting")),
      "crashed fold staging dirs present")
    toDf(s, path, "state_dir", checks.toSeq)
  }

  /** The key columns of a state whose stamp does not parse (pre-meta,
    * deleted or tampered): every column but the stat and sketch columns
    * the kinds share (`n_events`/`n_rows`/`sketch`/`ewma` and the
    * sum_/sumsq_/min_/max_/last_ prefixes), and not a sample's `h`/`value`
    * when the stamp still names a sample — its unit of uniqueness is
    * (keys..., rank).
    */
  private def inferredRowKey(columns: Seq[String],
      kind: Option[String]): Seq[String] = {
    val sample = graft.etl.StateKind.Sample
    val sampleKind = kind.exists(k =>
      k == sample.name || sample.windowed.contains(k))
    columns.filterNot(c =>
      Set("n_events", "n_rows", "sketch", "ewma").contains(c) ||
        (sampleKind && (c == "h" || c == "value")) ||
        c.startsWith("sum_") || c.startsWith("sumsq_") ||
        c.startsWith("min_") || c.startsWith("max_") ||
        c.startsWith("last_"))
  }

  // ------------------------------------------------------------ shard export
  /** The training-handoff artifact ([[graft.ops.TextAnalysis.exportShards]]
    * / `exportShardsByTokens`) — the one a TRAINER trusts blindly: it
    * reads the `_manifest` to plan the run and never recounts the data.
    * So the checks are exactly that trust: the manifest must exist (the
    * staged promote makes a missing one impossible for a completed
    * export — its absence means a hand-rolled or truncated copy), and
    * its per-shard doc counts must equal what the shard dirs actually
    * hold (a mismatch means files were lost or added AFTER the promote —
    * an rsync that dropped a part file, a manual delete — and the
    * training run would silently see different data than it planned).
    */
  def fsckShardExport(s: SparkSession, path: String): DataFrame = {
    val manifestDir = s"$path/_manifest"
    if (!hasParquet(s, manifestDir))
      toDf(s, path, "shard_export", Seq(
        Check("manifest_present", "fail", 1L,
          "no _manifest — a trainer cannot plan against this export"),
        warnIf("staging_leftovers",
          stagingLeftovers(s, Seq(s"$path.staging", s"$path.compacting",
            s"$path.old")),
          "crashed export staging dirs present")))
    else {
      val manifest = graft.Inputs.plain(s, manifestDir)
        .select(col("shard").cast("long").as("shard"), col("n_docs"))
      val actual = s.read.parquet(path)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("actual_docs"))
      val mismatched = manifest.join(actual, Seq("shard"), "full_outer")
        .filter(coalesce(col("n_docs"), lit(-1L)) =!=
          coalesce(col("actual_docs"), lit(-1L)))
        .count()
      toDf(s, path, "shard_export", Seq(
        ok("manifest_present"),
        failIf("manifest_counts", mismatched,
          "shards whose manifest doc count differs from the dir contents " +
            "— the export was modified after its promote; a training run " +
            "would see different data than it planned"),
        warnIf("staging_leftovers",
          stagingLeftovers(s, Seq(s"$path.staging", s"$path.compacting",
            s"$path.old")),
          "crashed export staging dirs present")))
    }
  }

  // ------------------------------------------------------------ psi baseline
  /** The PSI baseline artifact ([[Profile.savePsiBaseline]]) — a drift
    * monitor trusts it blindly (every batch buckets against it, and a
    * wrong baseline skews every later PSI silently), so the checks are
    * that trust: meta present with a kind the readers know; the kind's
    * REQUIRED tables present (numeric: a bounds array with exactly
    * buckets−1 monotone boundaries; categorical: counts keyed by
    * category); baseline counts inside the declared geometry with one
    * row per key. A bounds table beside a categorical baseline is
    * hygiene debt (warn): readers never touch it, but its presence
    * means a hand-rolled edit nobody re-stamped.
    */
  def fsckPsiBaseline(s: SparkSession, path: String): DataFrame = {
    val staging = Seq(s"$path.staging", s"$path.compacting", s"$path.old")
    val metaDir = s"$path/meta.parquet"
    if (!hasParquet(s, metaDir))
      return unreadable(s, path, "psi_baseline", metaDir, staging)
    val metaDf = s.read.parquet(metaDir)
    val meta = metaDf.head()
    val kind = if (metaDf.columns.contains("kind")) meta.getAs[String]("kind")
      else "numeric" // pre-`kind` artifacts are numeric by construction
    if (kind != "numeric" && kind != "categorical")
      return toDf(s, path, "psi_baseline", Seq(
        Check("kind_known", "fail", 1L,
          s"unknown baseline kind '$kind' — no monitor can read this artifact")))
    val countsDir = s"$path/base_counts.parquet"
    if (!hasParquet(s, countsDir))
      return unreadable(s, path, "psi_baseline", countsDir, staging)
    val counts = s.read.parquet(countsDir)
    val checks = scala.collection.mutable.ArrayBuffer[Check](ok("kind_known"))
    if (kind == "numeric") {
      val buckets = meta.getAs[Int]("buckets")
      val boundsDir = s"$path/bounds.parquet"
      if (!hasParquet(s, boundsDir))
        checks += Check("bounds_present", "fail", 1L,
          "numeric baseline without a bounds table — no snapshot can " +
            "bucket against it")
      else {
        checks += ok("bounds_present")
        val bs = s.read.parquet(boundsDir).head.getSeq[Double](0)
        checks += failIf("bounds_geometry",
          if (bs.length == buckets - 1) 0L else 1L,
          s"bounds holds ${bs.length} boundaries for $buckets buckets — " +
            "mixed generations; bucketing is wrong for every batch")
        checks += failIf("bounds_monotone",
          bs.zip(bs.drop(1)).count { case (a, b) => a > b }.toLong,
          "non-monotone boundary array — bucket assignment is undefined")
      }
      checks += failIf("counts_in_geometry",
        counts.filter(col("bucket") < 0 || col("bucket") >= buckets).count(),
        s"baseline bucket ids outside [0, $buckets)")
      checks += failIf("one_row_per_key",
        counts.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).count(),
        "duplicate bucket rows — the baseline double-counts NOW")
    } else {
      checks += failIf("counts_keyed_by_category",
        if (counts.columns.contains("category")) 0L else 1L,
        "categorical baseline counts without a category column")
      if (counts.columns.contains("category"))
        checks += failIf("one_row_per_key",
          counts.groupBy(col("category")).agg(count(lit(1)).as("n"))
            .filter(col("n") > 1).count(),
          "duplicate category rows — the baseline double-counts NOW")
      checks += warnIf("stale_bounds",
        if (hasParquet(s, s"$path/bounds.parquet")) 1L else 0L,
        "bounds table beside a categorical baseline — dead weight from " +
          "a hand edit nobody re-stamped")
    }
    checks += warnIf("staging_leftovers", stagingLeftovers(s, staging),
      "crashed stamp staging dirs present")
    toDf(s, path, "psi_baseline", checks.toSeq)
  }

  // ------------------------------------------------------------ sink dirs
  def fsckSinkDir(s: SparkSession, dir: String,
      markerBase: Option[String] = None): DataFrame = {
    val base = markerBase.getOrElse(dir)
    val uncommitted = uncommittedBatchIds(s, dir, base).size.toLong
    toDf(s, dir, "sink_dir", Seq(
      failIf("batches_committed", uncommitted,
        "batch files without a commit marker — readers see the crash " +
          "window's partial rows until the retry or compaction sweep"),
      warnIf("staging_leftovers",
        stagingLeftovers(s, Seq(s"${dir}_staging", s"$dir.compacting",
          s"$dir.old")),
        "crashed commit staging dirs present"),
      warnIf("markers_folded", redundantMarkers(s, base),
        "marker files at or below the watermark — fold debt, next " +
          "compaction collects them")))
  }

  private def toDf(s: SparkSession, path: String, kind: String,
      checks: Seq[Check]): DataFrame = {
    import s.implicits._
    checks.map(c => (path, kind, c.check, c.status, c.observed, c.detail))
      .toDF("path", "kind", "check", "status", "observed", "detail")
  }

  // --------------------------------------------------- skipping manifest
  /** A [[Layout.writeManifest]] data-skipping manifest — pruned reads
    * trust its min/max bounds to DROP whole files, so wrong bounds are
    * silent row loss. The trust decomposes: uncovered data files are
    * SAFE by design ([[Layout.readPruned]] keeps them unconditionally —
    * stale coverage is a performance warn, the refreshManifest nudge);
    * phantom manifest rows prune nothing (inert — warn); but a covered
    * file whose ACTUAL stats disagree with its manifest row means the
    * file changed under a manifest nobody re-stamped — that one is the
    * silent-row-loss hazard and fails. Verifying every file would rescan
    * the corpus column, so the check is SAMPLED at audit price:
    * `sampleFiles` deterministic files (lexicographically first covered,
    * stable for re-audits and specs; default 1) are rescanned and
    * compared exactly — the knob an operator dials UP after an incident
    * to deepen verification without changing the report shape.
    * Partitioned layouts are covered: the file listing recurses like the
    * pruned readers', and sample rescans read through basePath so
    * manifests covering partition columns verify too.
    */
  def fsckSkipManifest(s: SparkSession, path: String,
      sampleFiles: Int = 1): DataFrame = {
    require(sampleFiles >= 1, s"sampleFiles must be >= 1: $sampleFiles")
    val mDir = s"$path/${Layout.ManifestDir}"
    val staging = Seq(s"$mDir.staging", s"$mDir.compacting", s"$mDir.old")
    if (!hasParquet(s, mDir))
      return toDf(s, path, "skip_manifest", Seq(
        Check("manifest_present", "fail", 1L,
          s"no ${Layout.ManifestDir} — pruned reads degrade to full scans"),
        warnIf("staging_leftovers", stagingLeftovers(s, staging),
          "crashed manifest staging dirs present")))
    val m = graft.Inputs.plain(s, mDir)
    val covered = m.select(col("file")).collect().map(_.getString(0)).toSet
    val dataFiles = Layout.listDataFiles(s, path)
    val uncovered = dataFiles.filterNot(covered).length.toLong
    val phantoms = (covered -- dataFiles).size.toLong
    val cols = m.schema.fieldNames.toSeq
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
    val sampleBad = dataFiles.filter(covered).sorted.take(sampleFiles)
      .map { f =>
        // a file whose schema no longer carries a covered column is the
        // same changed-under-the-manifest hazard — the analysis error must
        // become THIS check's fail row, not abort the report
        try {
          val actual = s.read.option("basePath", path)
            .parquet(Layout.absDataPath(path, f))
            .agg(count(lit(1)).as("n_rows"),
              cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
                max(col(c)).as(s"max_$c"))): _*)
          val claimed = m.filter(col("file") === f).drop("file")
          // exact row equality both directions — any drifted stat or count
          // (nulls compare as values via the except set algebra)
          actual.exceptAll(claimed.select(actual.columns.map(col).toSeq: _*))
            .count()
        } catch { case scala.util.control.NonFatal(_) => 1L }
      }.sum
    // the Bloom sibling, when present: the sampled covered file's ACTUAL
    // hashed values must all hit its stored Bloom — a false negative is
    // impossible for an unchanged file (the Bloom contract), so any miss
    // means the file changed under the manifest, and point-pruned reads
    // silently drop its rows
    val bloomDir = s"$path/${Layout.BloomManifestDir}"
    val bloomChecks =
      if (!hasParquet(s, bloomDir)) Seq.empty[Check]
      else Layout.bloomManifestCol(s, path) match {
        case None => Seq(Check("bloom_readable", "fail", 1L,
          "bloom manifest dir without a bloom_<col> column"))
        case Some(c) =>
          val bm = graft.Inputs.plain(s, bloomDir)
          val bCovered = bm.select(col("file")).collect()
            .map(_.getString(0)).toSet
          val bUncovered = dataFiles.filterNot(bCovered).length.toLong
          // one pass over the sampled files computes BOTH bloom checks:
          // rows missing their stored filter (changed-under-manifest
          // damage) and the filter's own self-reported fp rate
          // (expectedFpp from the set-bit count — an overloaded filter
          // reads 30%+ where the design rate is ~1%, the signature that
          // the tier has silently stopped pruning)
          val (bSampleBad, bSaturated) =
            dataFiles.filter(bCovered).sorted.take(sampleFiles)
            .map { f =>
              try {
                val bytes = bm.filter(col("file") === f)
                  .select(col(s"bloom_$c")).head.getAs[Array[Byte]](0)
                val missed = s.read.option("basePath", path)
                  .parquet(Layout.absDataPath(path, f))
                  .filter(!graft.functions.bloom_might_contain(
                    lit(bytes), xxhash64(col(c))))
                  .count()
                val fpp = org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(bytes)).expectedFpp()
                (missed, if (fpp > 0.25) 1L else 0L)
              } catch { case scala.util.control.NonFatal(_) => (1L, 0L) }
            }.foldLeft((0L, 0L)) { case ((a1, a2), (b1, b2)) =>
              (a1 + b1, a2 + b2) }
          Seq(
            failIf("bloom_sample", bSampleBad,
              "rows of the sampled covered file miss its stored Bloom — " +
                "impossible for an unchanged file, so the data changed " +
                "under the manifest; point-pruned reads silently drop " +
                "these rows until refreshBloomManifest"),
            warnIf("bloom_saturated", bSaturated,
              "sampled stored filters report an expected fp rate far " +
                "above the ~1% design rate — the filter was built for " +
                "fewer rows than its file holds and the tier has " +
                "silently stopped pruning; heal with maybeRebloom " +
                "(sizes to measured per-file counts)"),
            warnIf("bloom_coverage", bUncovered,
              "data files the bloom manifest does not cover — kept " +
                "unpruned (safe) but unskippable until refreshBloomManifest"))
      }
    toDf(s, path, "skip_manifest", Seq(
      ok("manifest_present"),
      failIf("stats_sample", sampleBad,
        "the sampled covered file's actual (n_rows, min, max) disagree " +
          "with its manifest row — the data changed under the manifest; " +
          "pruned reads may silently drop rows until refreshManifest"),
      warnIf("coverage", uncovered,
        "data files the manifest does not cover — kept unpruned (safe) " +
          "but unskippable until refreshManifest"),
      warnIf("phantoms", phantoms,
        "manifest rows for files no longer present — inert, hygiene debt"),
      warnIf("staging_leftovers", stagingLeftovers(s, staging),
        "crashed manifest staging dirs present")) ++ bloomChecks)
  }

  // ------------------------------------------------------------ join view
  /** A [[graft.etl.JsonEtl.joinUpsertAt]] materialized-join state
    * (`root/{view,left,right}` under one marker lineage at `root`) — the
    * view is trusted to BE left ⋈ right, and the protocol guarantees it
    * batch-by-batch, so the checks are the protocol's invariants read
    * from the files alone (recomputing the join to compare would cost
    * the full L⋈R the operator exists to avoid — explicitly NOT
    * audit-priced, and a torn state is visible structurally anyway):
    * all three tables present; no batch files without a commit marker
    * (crash-window partials — the retry or a compaction sweep clears
    * them); COMMITTED batch ids present in `left` but absent from
    * `view` or vice versa — and, for two-sided `joinUpsertAt` states
    * (recognized by `right` holding batch-prefixed files), the same
    * symmetric difference against `right`'s committed ids, since every
    * committed batch writes all three dirs there and right-only removal
    * is the same view ≠ L ⋈ R hazard (a torn multi-dir commit is
    * impossible under `commitBatch` — one marker covers all dirs — so
    * parity damage means manual surgery or a foreign writer: fail);
    * plus the usual staging/marker hygiene.
    */
  def fsckJoinView(s: SparkSession, root: String): DataFrame = {
    val subs = Seq("view", "left", "right").map(d => s"$root/$d")
    val missing = subs.filterNot(hasParquet(s, _))
    if (missing.nonEmpty)
      return toDf(s, root, "join_view", Seq(
        Check("index_readable", "fail", missing.length.toLong,
          s"required state table(s) missing or empty: " +
            missing.mkString(", "))))
    def batchIds(dir: String): Set[Long] = {
      val pat = "^b(\\d+)-.*".r
      fsOf(s, dir).listStatus(new Path(dir)).toSeq
        .collect { case st if st.isFile => st.getPath.getName match {
          case pat(id) => Some(id.toLong)
          case _ => None
        } }
        .flatten.toSet
    }
    def committedIds(dir: String): Set[Long] =
      batchIds(dir).filter(graft.streaming.Streams.isBatchCommitted(s, root, _))
    val uncommitted = subs.map(d =>
      uncommittedBatchIds(s, d, root).size.toLong).sum
    val (vIds, lIds) = (committedIds(subs.head), committedIds(subs(1)))
    // two-sided states (joinUpsertAt) write right per committed batch too,
    // so right-only damage to a committed batch is the same "view no
    // longer equals L ⋈ R" hazard and must fail parity; the seeded-dim
    // protocol (joinUpsertLeftAt) never writes batch files into right.
    // WHICH protocol applies comes from the durable `_join_protocol`
    // stamp, not from surviving right-side batch files: under inference,
    // TOTAL loss of the right side — the most damaging torn state — is
    // indistinguishable from a seeded dim and parity passes vacuously.
    // Pre-stamp states keep the inference (and warn below).
    val protocol = graft.etl.JsonEtl.joinProtocol(s, root)
    val rIds = protocol match {
      case Some("two_sided") => committedIds(subs(2))
      case Some("left_only") => lIds
      case _ => if (batchIds(subs(2)).nonEmpty) committedIds(subs(2)) else lIds
    }
    val torn = ((vIds diff lIds) ++ (lIds diff vIds) ++
      (vIds diff rIds) ++ (rIds diff vIds)).size.toLong
    toDf(s, root, "join_view", Seq(
      ok("index_readable"),
      warnIf("protocol_stamped", if (protocol.isEmpty) 1L else 0L,
        "no _join_protocol stamp — right-side parity is inferred from " +
          "surviving batch files, so a TOTAL right-side loss would pass " +
          "vacuously (pre-protocol artifact; the next fold stamps it)"),
      failIf("batches_committed", uncommitted,
        "batch files without a commit marker — a crashed fold's partial " +
          "rows; the replay or compaction sweep clears them"),
      failIf("batch_parity", torn,
        "committed batch ids present in view but not left/right (or " +
          "vice versa) — impossible under the one-marker commit, so the " +
          "view no longer equals left ⋈ right; rebuild from the inputs"),
      warnIf("staging_leftovers", stagingLeftovers(s,
        subs.flatMap(d => Seq(s"${d}_staging", s"$d.staging",
          s"$d.compacting", s"$d.old"))),
        "crashed commit staging dirs present"),
      warnIf("markers_folded", redundantMarkers(s, root),
        "marker files at or below the watermark — fold debt")))
  }

  /** Fsck validates five kinds beyond [[Maintenance.Kinds]]: the durable
    * aggregate state (and its generalized `state_dir` sibling covering
    * every registered state kind), the shard export, the PSI baseline and
    * the join view have no standing maintenance action of their own
    * (each fold/export/stamp rewrites wholesale or appends under the
    * marker protocol — a join view's dirs compact as three `sink_dir`
    * targets with `markerBase = root`) but all have invariants worth
    * checking. `skip_manifest` arrives via [[Maintenance.Kinds]] — it
    * DOES have an action (refresh/compact).
    */
  val Kinds: Set[String] =
    Maintenance.Kinds + "agg_state" + "state_dir" + "shard_export" +
      "psi_baseline" + "join_view"

  /** The one kind→validator dispatch both entry points share — so a new
    * artifact family (and its error contract) is added in exactly one
    * place.
    */
  private def dispatch(s: SparkSession, kind: String, path: String,
      markerBase: Option[String]): DataFrame = kind match {
    case "ann_index" => fsckAnnIndex(s, path)
    case "minhash_index" => fsckMinhashIndex(s, path)
    case "embedding_index" => fsckEmbeddingIndex(s, path)
    case "agg_state" => fsckAggState(s, path)
    case "state_dir" => fsckStateDir(s, path)
    case "shard_export" => fsckShardExport(s, path)
    case "psi_baseline" => fsckPsiBaseline(s, path)
    case "skip_manifest" => fsckSkipManifest(s, path)
    case "join_view" => fsckJoinView(s, path)
    case "sink_dir" => fsckSinkDir(s, path, markerBase)
    case k => throw new IllegalArgumentException(
      s"unknown fsck kind '$k' (expected one of " +
        s"${Kinds.toSeq.sorted.mkString(", ")}): $path")
  }

  /** [[dispatch]] for the batch entry points: a target whose validator
    * throws — damage beyond what the per-family readable gates name, a
    * filesystem error mid-audit — degrades to ONE `fsck_ran` fail row
    * carrying the exception, instead of aborting the whole nightly
    * report for every other target. Kind validity is checked by the
    * callers BEFORE this guard, so config errors stay loud.
    */
  private def guarded(s: SparkSession, kind: String, path: String,
      markerBase: Option[String]): DataFrame =
    try dispatch(s, kind, path, markerBase)
    catch {
      case scala.util.control.NonFatal(e) =>
        toDf(s, path, kind, Seq(Check("fsck_ran", "fail", 1L,
          s"validator threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))))
    }

  /** Validate a set of targets ([[Maintenance.Target]]'s kinds) in one
    * report — the read-only sibling of [[Maintenance.runAll]]: run fsck
    * first, maintenance second, and the warn rows should disappear.
    * `markerBase` applies to EVERY sink_dir target; sink dirs with
    * distinct marker bases must use [[runConfig]], whose per-target
    * `markerBase` field expresses them.
    */
  def runAll(s: SparkSession,
      targets: Seq[(String, String)],
      markerBase: Option[String] = None): DataFrame = {
    require(targets.nonEmpty, "fsck needs at least one target")
    targets.foreach { case (k, p) =>
      require(Kinds.contains(k),
        s"unknown fsck kind '$k' (expected one of " +
          s"${Kinds.toSeq.sorted.mkString(", ")}): $p")
    }
    // independent read-only audits of distinct dirs: overlap them (guide
    // §2.6) — each target is many tiny sequential jobs, and the sequential
    // loop spent ~45% of the report's wall in inter-job driver gaps (r13
    // profile). Result order is input order, so the report is identical.
    Par.mapOrdered(targets,
        inFlight = Par.gate(s.sparkContext.defaultParallelism)) {
      case (k, p) => guarded(s, k, p, markerBase)
    }.reduce(_ unionByName _)
  }

  /** Per-target-markerBase programmatic form — what [[runConfig]] resolves
    * its JSON into, exposed so callers with heterogeneous sink bases
    * (e.g. [[Maintenance]]'s fsck phases) don't have to detour through a
    * JSON document.
    */
  def runTargets(s: SparkSession,
      targets: Seq[(String, String, Option[String])]): DataFrame = {
    require(targets.nonEmpty, "fsck needs at least one target")
    targets.foreach { case (k, p, mb) =>
      require(Kinds.contains(k),
        s"unknown fsck kind '$k' (expected one of " +
          s"${Kinds.toSeq.sorted.mkString(", ")}): $p")
      require(k == "sink_dir" || mb.isEmpty,
        s"markerBase only applies to sink_dir targets: $p")
    }
    Par.mapOrdered(targets,
        inFlight = Par.gate(s.sparkContext.defaultParallelism)) {
      case (k, p, mb) => guarded(s, k, p, mb)
    }.reduce(_ unionByName _)
  }

  /** Config-driven form — the [[Maintenance.runConfig]] discipline, so the
    * nightly integrity pass is the same JSON document shape as the
    * maintenance pass (run fsck first, maintenance second, fsck again —
    * the warn rows should disappear):
    *
    * {{{
    * {"targets": [
    *    {"kind": "ann_index", "path": "/idx/ann"},
    *    {"kind": "minhash_index", "path": "/idx/mh"},
    *    {"kind": "embedding_index", "path": "/idx/emb"},
    *    {"kind": "sink_dir", "path": "/sinks/audit",
    *     "markerBase": "/sinks/base"}]}
    * }}}
    */
  def runConfig(s: SparkSession, configJson: String): DataFrame = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(configJson)
    require(root.hasNonNull("targets"), "config needs targets")
    import scala.jdk.CollectionConverters._
    val targets = root.get("targets").elements().asScala.map { t =>
      require(t.hasNonNull("kind") && t.hasNonNull("path"),
        "every target needs kind and path")
      val kind = t.get("kind").asText
      val path = t.get("path").asText
      require(Kinds.contains(kind),
        s"unknown fsck kind '$kind' (expected one of " +
          s"${Kinds.toSeq.sorted.mkString(", ")}): $path")
      val mb = Option(t.get("markerBase")).filterNot(_.isNull).map(_.asText)
      require(kind == "sink_dir" || mb.isEmpty,
        s"markerBase only applies to sink_dir targets: $path")
      (kind, path, mb)
    }.toSeq
    runTargets(s, targets)
  }

  /** Gate/bench form (rows-only — artifact state is engine-internal): one
    * fsck pass over the [[Maintenance.buildWorld]] scratch world (one
    * artifact of every family, grown past its build by marker-committed
    * appends). Everything it reports should be ok except the known
    * hygiene debt the world's build deliberately leaves (none today —
    * the spec pins ok/warn statuses per check, and that injected
    * corruption flips exactly its own check).
    */
  def opsFsckReport(s: SparkSession, dir: String): DataFrame = {
    val base = Maintenance.buildWorld(s, dir)
    runAll(s, Seq(
      "ann_index" -> s"$base/ann",
      "minhash_index" -> s"$base/mh",
      "embedding_index" -> s"$base/emb",
      "agg_state" -> s"$base/agg",
      "state_dir" -> s"$base/qstate",
      "state_dir" -> s"$base/astate",
      "shard_export" -> s"$base/export",
      "psi_baseline" -> s"$base/psi",
      "skip_manifest" -> s"$base/skip",
      "join_view" -> s"$base/jv",
      "sink_dir" -> s"$base/sink"))
      .orderBy(col("path"), col("check"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ops_fsck_report" -> (opsFsckReport _))

  val oracles: Map[String, String] = Map.empty
}
