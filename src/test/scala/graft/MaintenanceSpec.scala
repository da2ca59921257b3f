package graft

import org.apache.spark.sql.functions._
import graft.ops.{AnnModel, AnnSpec, Dedup, Fsck, Maintenance, Similarity}
import graft.ops.Maintenance.Target

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // deterministic clustered vectors (the SimilaritySpec generator shape)
  private def prand(seed: Long): Double = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  private def vectors(n: Int, idBase: Long = 0L, scale: Double = 1.0) = {
    val rows = (0 until n).map { i =>
      val c = i % 8
      val emb = Array.tabulate(64) { d =>
        val center = if (d < 8) 4.0 * prand(c.toLong * 64 + d) else 0.0
        (scale * (center + 0.25 * prand((i.toLong << 8) + d))).toFloat
      }
      (idBase + i.toLong, emb, (i % 8).toLong)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  private def docs(n: Int) =
    (0 until n).map { i =>
      val base = (0 until 30).map(w => s"d${i % (n / 2)}_w$w").mkString(" ")
      (i.toLong, base)
    }.toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def parquetFiles(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet")).toLong
  }

  /** One artifact of every family, grown past its build by appends. */
  private def buildWorld(): String = {
    val base = tmp("graft_maint_spec")
    val e = vectors(512)
    val cents = Similarity.centroids(e.filter(col("vec_id") % 2 === 0))
    val cb = Similarity.pqCodebooks(e.filter(col("vec_id") % 2 === 0))
    Similarity.saveIndex(s"$base/ann", AnnSpec.Ivfpq, AnnModel(None,
      Some(cents), Some(cb), Some(Similarity.buildIvfpqIndex(
        e.filter(col("vec_id") % 2 === 0), cents, cb))))
    Similarity.recordDriftBaseline(spark, s"$base/ann",
      e.filter(col("vec_id") % 2 === 0), cb, Some(cents))
    // nightly batches are RE-ID'D copies of baseline vectors — exactly
    // in-distribution by construction (err ratio 1.0, occupancy identical).
    // An id-slice like vec_id % 8 == c would be a single cluster and a
    // fresh out-of-sample draw inflates error past the band at this tiny
    // training size — both legitimately trip the monitor, which the
    // retrain test covers deliberately
    (0L until 4L).foreach { b =>
      Similarity.appendToIndexAt(spark, s"$base/ann",
        e.filter(col("vec_id") % 2 === 0)
          .withColumn("vec_id", col("vec_id") + (b + 1L) * 100000L), b)
    }
    val d = docs(64)
    Dedup.saveMinhashIndex(spark, d.filter(col("doc_id") % 2 === 0), s"$base/mh")
    Dedup.appendToMinhashIndex(spark, d.filter(col("doc_id") % 2 === 1), s"$base/mh")
    Dedup.saveEmbeddingIndex(spark, e.filter(col("vec_id") % 2 === 0), s"$base/emb")
    Dedup.appendToEmbeddingIndex(spark, e.filter(col("vec_id") % 2 === 1), s"$base/emb")
    (0L until 6L).foreach { b =>
      val batch = e.filter(col("vec_id") % 16 === b)
        .select(col("vec_id"), lit(b).as("batch_id"))
      graft.streaming.Streams.commitBatch(spark, s"$base/sink", b)(
        (s"$base/sink", (stg: String) => batch.write.parquet(stg)))
    }
    base
  }

  test("one maintenance pass walks all four families: files bounded, content preserved, report accounts for each") {
    val base = buildWorld()
    // pre-state: live rows per family (what maintenance must preserve)
    val annBefore = spark.read.parquet(s"$base/ann/pq_codes.parquet")
      .collect().map(_.toString).sorted.toSeq
    val mhBefore = Dedup.loadMinhashIndex(spark, s"$base/mh")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (ev, eb) = Dedup.loadEmbeddingIndex(spark, s"$base/emb")
    val embBefore = (ev.count(), eb.count())
    val sinkBefore = spark.read.parquet(s"$base/sink")
      .collect().map(_.toString).sorted.toSeq

    val rep = Maintenance.runAll(spark, Seq(
      Target("ann_index", s"$base/ann"),
      Target("minhash_index", s"$base/mh"),
      Target("embedding_index", s"$base/emb"),
      Target("sink_dir", s"$base/sink", orderCol = Some("vec_id"))))
      .collect()
    assert(rep.length === 4)
    rep.foreach { r =>
      assert(r.getAs[Long]("files_after") <= r.getAs[Long]("files_before"),
        s"${r.getAs[String]("kind")}: compaction must not grow files")
      assert(r.getAs[Long]("rows_written") > 0L)
      assert(!r.getAs[Boolean]("retrain_checked"),
        "no retrain corpus fed -> the decision must not be claimed checked")
    }
    // content preserved bit-for-bit in every family
    assert(spark.read.parquet(s"$base/ann/pq_codes.parquet")
      .collect().map(_.toString).sorted.toSeq === annBefore)
    assert(Dedup.loadMinhashIndex(spark, s"$base/mh")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === mhBefore)
    val (ev2, eb2) = Dedup.loadEmbeddingIndex(spark, s"$base/emb")
    assert((ev2.count(), eb2.count()) === embBefore)
    assert(spark.read.parquet(s"$base/sink")
      .collect().map(_.toString).sorted.toSeq === sinkBefore)
    // file bound actually bites: each append left >= 1 file, compaction
    // packs the small world into a handful
    assert(parquetFiles(s"$base/ann/pq_codes.parquet") <= 2)
    assert(parquetFiles(s"$base/sink") <= 2)
    // second pass is a stable no-op shape: nothing grows, content intact
    val rep2 = Maintenance.runAll(spark, Seq(
      Target("minhash_index", s"$base/mh"),
      Target("sink_dir", s"$base/sink", orderCol = Some("vec_id"))))
      .collect()
    rep2.foreach(r => assert(
      r.getAs[Long]("files_after") <= r.getAs[Long]("files_before")))
    assert(spark.read.parquet(s"$base/sink")
      .collect().map(_.toString).sorted.toSeq === sinkBefore)
  }

  test("fsck phases: fail-severity damage aborts BEFORE any mutation; a healthy world passes both") {
    val base = buildWorld()
    // healthy: pre+post phases both pass and the report comes back
    val rep = Maintenance.runAll(spark, Seq(
      Target("minhash_index", s"$base/mh"),
      Target("sink_dir", s"$base/sink", orderCol = Some("vec_id"))),
      fsck = "both").collect()
    assert(rep.length === 2)
    // corrupt one target: destroy the embedding index's buckets table —
    // an index_readable fail
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/emb/buckets"), true))
    def mhLayout() = {
      val p = new org.apache.hadoop.fs.Path(s"$base/mh")
      fs.listStatus(p).map(_.getPath.getName).sorted.toSeq
    }
    val before = mhLayout()
    val ex = intercept[IllegalStateException] {
      Maintenance.runAll(spark, Seq(
        Target("embedding_index", s"$base/emb"),
        Target("minhash_index", s"$base/mh")), fsck = "pre")
    }
    assert(ex.getMessage.contains("pre-maintenance"))
    assert(ex.getMessage.contains("index_readable"))
    // the ordering pin: the abort fired before ANY target mutated — the
    // healthy minhash sibling's file layout is byte-for-byte the same
    // (a run would have rewritten it under new file names)
    assert(mhLayout() === before,
      "pre-fsck must abort before maintenance touches any target")
    // an unknown phase fails loudly
    intercept[IllegalArgumentException] {
      Maintenance.runAll(spark,
        Seq(Target("minhash_index", s"$base/mh")), fsck = "sometimes")
    }
  }

  test("the ann retrain decision is wired through: drifted appends fire, in-band appends decline") {
    val base = tmp("graft_maint_retrain")
    val e = vectors(512)
    val past = e.filter(col("vec_id") % 2 === 0)
    val cents = Similarity.centroids(past)
    val cb = Similarity.pqCodebooks(past)
    Similarity.saveIndex(s"$base/ann", AnnSpec.Ivfpq, AnnModel(None,
      Some(cents), Some(cb), Some(Similarity.buildIvfpqIndex(past, cents, cb))))
    Similarity.recordDriftBaseline(spark, s"$base/ann", past, cb, Some(cents))
    // two in-distribution nightlies (re-id'd copies of baseline vectors —
    // the same world re-arriving): the decision must decline
    val day0 = past.withColumn("vec_id", col("vec_id") + 100000L)
    val day1 = past.withColumn("vec_id", col("vec_id") + 200000L)
    Similarity.appendToIndexAt(spark, s"$base/ann", day0, 0L)
    Similarity.appendToIndexAt(spark, s"$base/ann", day1, 1L)
    val declined = Maintenance.runAll(spark, Seq(
      Target("ann_index", s"$base/ann",
        retrainCorpus = Some(e.unionByName(day0).unionByName(day1)),
        lastK = 2, minTripped = 2))).collect().head
    assert(declined.getAs[Boolean]("retrain_checked"))
    assert(!declined.getAs[Boolean]("retrain_fired"))
    // the world moves: two 3x-scaled nightlies trip the error signal and
    // the SAME maintenance call fires the rebuild
    val shifted = vectors(256, idBase = 10000L, scale = 3.0)
    Similarity.appendToIndexAt(spark, s"$base/ann",
      shifted.filter(col("vec_id") % 2 === 0), 2L)
    Similarity.appendToIndexAt(spark, s"$base/ann",
      shifted.filter(col("vec_id") % 2 === 1), 3L)
    val everything = e.unionByName(day0).unionByName(day1).unionByName(shifted)
    val fired = Maintenance.runAll(spark, Seq(
      Target("ann_index", s"$base/ann",
        retrainCorpus = Some(everything),
        retrainOn = Some(shifted), lastK = 2, minTripped = 2)))
      .collect().head
    assert(fired.getAs[Boolean]("retrain_fired"))
    // the rebuilt index serves the union (retrainIndex semantics — codes
    // over everything, spec-pinned in SimilaritySpec; here: the wiring
    // really rebuilt, live ids cover both worlds)
    val live = spark.read.parquet(s"$base/ann/pq_codes.parquet")
      .select("vec_id").distinct().count()
    assert(live === everything.count())

    // a CRASHED append (files written, marker never created) leaves a
    // drifted phantom row in the drift table; the orchestrator must sweep
    // it BEFORE the decision — with minTripped=1 a counted phantom would
    // fire a corpus-scale rebuild off a batch that never applied
    val phantom = vectors(64, idBase = 50000L, scale = 3.0)
    Similarity.appendToIndexAt(spark, s"$base/ann", phantom, 10L)
    val marker = new org.apache.hadoop.fs.Path(s"$base/ann_batches/10")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(marker, false), "crash simulation needs the marker gone")
    val afterCrash = Maintenance.runAll(spark, Seq(
      Target("ann_index", s"$base/ann", retrainCorpus = Some(everything),
        lastK = 1, minTripped = 1))).collect().head
    assert(!afterCrash.getAs[Boolean]("retrain_fired"),
      "a never-committed batch's drift row must not fire the retrain")
  }

  test("a target setting retrainOn without retrainCorpus fails loudly instead of silently skipping the check") {
    intercept[IllegalArgumentException] {
      Maintenance.runAll(spark, Seq(
        Target("ann_index", "/nowhere", retrainOn = Some(vectors(8)))))
    }
    intercept[IllegalArgumentException] {
      Maintenance.runAll(spark, Seq(
        Target("minhash_index", "/nowhere", rebuild = true)))
    }
  }

  test("the embedding regeometry decision is wired through: an outgrown index fires, a right-sized one declines") {
    val base = tmp("graft_maint_regeom")
    val e = vectors(600)
    graft.ops.Dedup.saveEmbeddingIndex(spark, e, s"$base/emb",
      numTables = 2, bits = 1) // recommendedBits(600) = 4 > 1
    val fired = Maintenance.runAll(spark, Seq(
      Target("embedding_index", s"$base/emb", rebuild = true)))
      .collect().head
    assert(fired.getAs[Boolean]("retrain_checked"))
    assert(fired.getAs[Boolean]("retrain_fired"))
    assert(graft.ops.Dedup.embeddingIndexGeometry(spark, s"$base/emb")._2 === 4)
    val declined = Maintenance.runAll(spark, Seq(
      Target("embedding_index", s"$base/emb", rebuild = true)))
      .collect().head
    assert(declined.getAs[Boolean]("retrain_checked"))
    assert(!declined.getAs[Boolean]("retrain_fired"))
    // without the flag the decision is not claimed checked
    val unchecked = Maintenance.runAll(spark, Seq(
      Target("embedding_index", s"$base/emb"))).collect().head
    assert(!unchecked.getAs[Boolean]("retrain_checked"))
  }

  test("config round-trip: JSON targets drive the same pass; malformed configs fail loudly") {
    val base = buildWorld()
    val corpusPath = s"$base/corpus.parquet"
    vectors(512).write.parquet(corpusPath)
    val rep = Maintenance.runConfig(spark,
      s"""{"maxRecordsPerFile": 1048576,
           "targets": [
             {"kind": "ann_index", "path": "$base/ann",
              "retrain": {"corpusPath": "$corpusPath",
                          "lastK": 4, "minTripped": 4}},
             {"kind": "minhash_index", "path": "$base/mh"},
             {"kind": "embedding_index", "path": "$base/emb"},
             {"kind": "sink_dir", "path": "$base/sink",
              "orderCol": "vec_id"}]}""").collect()
    assert(rep.length === 4)
    val ann = rep.find(_.getAs[String]("kind") == "ann_index").get
    assert(ann.getAs[Boolean]("retrain_checked"))
    assert(!ann.getAs[Boolean]("retrain_fired"),
      "4-of-4 trips cannot fire on in-band appends")
    // malformed configs: every failure is a named require, not a downstream NPE
    intercept[IllegalArgumentException] {
      Maintenance.runConfig(spark,
        s"""{"targets": [{"kind": "bogus", "path": "$base/mh"}]}""")
    }
    intercept[IllegalArgumentException] {
      Maintenance.runConfig(spark, """{"no_targets": true}""")
    }
    intercept[IllegalArgumentException] {
      Maintenance.runConfig(spark,
        s"""{"targets": [{"kind": "sink_dir", "path": "$base/sink"}]}""")
    }
    intercept[IllegalArgumentException] {
      // bogus corpusPath on purpose: the kind check must fire BEFORE the
      // eager parquet read, or this would surface as an AnalysisException
      Maintenance.runConfig(spark,
        s"""{"targets": [{"kind": "minhash_index", "path": "$base/mh",
             "retrain": {"corpusPath": "$base/does_not_exist"}}]}""")
    }
    intercept[IllegalArgumentException] {
      Maintenance.runConfig(spark,
        s"""{"targets": [{"kind": "ann_index", "path": "$base/ann",
             "retrain": {"lastK": 2}}]}""")
    }
  }

  test("gate entry: five rows, the ann decision checked and declined, stable across calls") {
    val rep = Maintenance.opsMaintenanceReport(spark, sf).collect()
    assert(rep.length === 5)
    assert(rep.map(_.getAs[String]("kind")).toSet ===
      Set("ann_index", "minhash_index", "embedding_index", "sink_dir",
        "skip_manifest"))
    val ann = rep.find(_.getAs[String]("kind") == "ann_index").get
    assert(ann.getAs[Boolean]("retrain_checked"))
    assert(!ann.getAs[Boolean]("retrain_fired"),
      "the gate world's appends are in-distribution")
    rep.foreach(r => assert(r.getAs[Long]("rows_written") > 0L))
    // bench best-of-N shape: the world is memoized, later calls just
    // re-maintain — same five rows, files stay bounded
    val rep2 = Maintenance.opsMaintenanceReport(spark, sf).collect()
    assert(rep2.length === 5)
    rep2.foreach(r => assert(
      r.getAs[Long]("files_after") <= math.max(r.getAs[Long]("files_before"), 2L)))
  }

  test("maybeRebloom: saturated manifest fires and re-sizes, right-sized declines, fsck warn + heal loop close") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft_rebloom")
      .toString + "/t"
    val n = 20000
    (0 until n).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
      .repartition(8, col("id")).write.parquet(dir)
    Layout.writeManifest(spark, dir, Seq("id"))
    // a filter sized for 256 rows under files holding ~2500: the stored
    // filters self-report saturation (expectedFpp ~ 1) and the tier
    // stops pruning
    Layout.writeBloomManifest(spark, dir, "id",
      expectedPerFile = 256L, numBits = 1L << 12)
    def statusOf(check: String): String =
      Fsck.fsckSkipManifest(spark, dir).filter(col("check") === check)
        .head.getAs[String]("status")
    assert(statusOf("bloom_saturated") === "warn",
      "fsck must surface the saturated-filter signature")
    val probes: Seq[Any] = Seq(3L, 5011L, 17777L)
    val before = Layout.readPrunedPoint(spark, dir, "id", probes)
      .inputFiles.length
    val (fired, newExpected) = Layout.maybeRebloom(spark, dir)
    assert(fired, "a saturated manifest must fire the rebuild")
    assert(newExpected >= n / 8L,
      s"rebuild must size to measured per-file counts, got $newExpected")
    assert(statusOf("bloom_saturated") === "ok", "the warn must clear")
    val after = Layout.readPrunedPoint(spark, dir, "id", probes)
    assert(after.inputFiles.length < before,
      s"right-sized blooms must prune again: ${after.inputFiles.length} vs $before")
    assert(after.count() === probes.size.toLong,
      "re-sizing moves file opens, never rows")
    // right-sized: the decision declines (idempotent monitor→action)
    assert(!Layout.maybeRebloom(spark, dir)._1,
      "a right-sized manifest must decline")
    // maintenance wiring: the skip_manifest target reports the action
    // through checked/fired — a fresh saturated manifest fires via runAll
    Layout.writeBloomManifest(spark, dir, "id",
      expectedPerFile = 256L, numBits = 1L << 12)
    val rep = Maintenance.runAll(spark,
      Seq(Target("skip_manifest", dir))).collect()
    assert(rep.head.getAs[Boolean]("retrain_checked"))
    assert(rep.head.getAs[Boolean]("retrain_fired"),
      "maintenance must fire the rebloom on a saturated manifest")
    assert(statusOf("bloom_saturated") === "ok")
    // and a clean pass declines: checked, not fired
    val rep2 = Maintenance.runAll(spark,
      Seq(Target("skip_manifest", dir))).collect()
    assert(rep2.head.getAs[Boolean]("retrain_checked") &&
      !rep2.head.getAs[Boolean]("retrain_fired"),
      "a healthy manifest must decline both heal and rebloom")
  }

  test("skip-manifest maintenance: refresh heals the coverage warn; compact keeps pruning exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_maint_skip")
      .toString + "/data"
    (0 until 5000).map(i => (i.toLong, i.toLong % 7)).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    graft.ops.Layout.writeManifest(spark, dir, Seq("id"))
    (5000 until 5200).map(i => (i.toLong, i.toLong % 7)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(Fsck.fsckSkipManifest(spark, dir)
      .filter(col("check") === "coverage").head.getAs[String]("status")
      === "warn")
    // refresh-only target (no orderCol): stats re-cover the appends
    val rep = Maintenance.runAll(spark,
      Seq(Target("skip_manifest", dir))).collect()
    assert(rep.length === 1 && rep.head.getAs[Long]("rows_written") === 0L)
    assert(Fsck.fsckSkipManifest(spark, dir)
      .filter(col("status") =!= "ok").count() === 0L)
    // compacting target (orderCol): files collapse, manifest follows,
    // pruned reads stay exact
    val rep2 = Maintenance.runAll(spark,
      Seq(Target("skip_manifest", dir, orderCol = Some("id"))),
      maxRecordsPerFile = 2000L).collect()
    assert(rep2.head.getAs[Long]("rows_written") === 5200L)
    assert(Fsck.fsckSkipManifest(spark, dir)
      .filter(col("status") =!= "ok").count() === 0L)
    val pruned = graft.ops.Layout.readPruned(spark, dir, "id",
      lit(100L), lit(299L))
    assert(pruned.count() === 200L)
    assert(pruned.inputFiles.length < rep2.head.getAs[Long]("files_after"),
      "the clustered rewrite must make the range prunable")
  }
}
