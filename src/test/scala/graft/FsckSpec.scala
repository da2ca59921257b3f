package graft

import org.apache.spark.sql.functions._
import graft.ops.{AnnModel, AnnSpec, Dedup, Fsck, Similarity}
import graft.etl.StateKind._

/** The fsck contract: a freshly-built artifact of every family reports all
  * checks ok, and each injected corruption flips EXACTLY its own check —
  * a validator that cross-flags is as useless to an on-call as one that
  * misses.
  */
class FsckSpec extends SparkSpec {
  import spark.implicits._

  private def prand(seed: Long): Double = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  private def vectors(n: Int) =
    (0 until n).map { i =>
      val c = i % 8
      val emb = Array.tabulate(64) { d =>
        val center = if (d < 8) 4.0 * prand(c.toLong * 64 + d) else 0.0
        (center + 0.25 * prand((i.toLong << 8) + d)).toFloat
      }
      (i.toLong, emb, (i % 8).toLong)
    }.toDF("vec_id", "embedding", "label")

  private def docs(n: Int) =
    (0 until n).map { i =>
      (i.toLong, (0 until 30).map(w => s"d${i}_w$w").mkString(" "))
    }.toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def statusOf(df: org.apache.spark.sql.DataFrame,
      check: String): (String, Long) = {
    val r = df.filter(col("check") === check).collect()
    assert(r.length === 1, s"expected exactly one '$check' row")
    (r.head.getAs[String]("status"), r.head.getAs[Long]("observed"))
  }

  test("ann fsck: clean index all ok; each corruption flips only its check") {
    val path = tmp("graft_fsck_ann") + "/idx"
    val e = vectors(400)
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    Similarity.saveIndex(path, AnnSpec.Ivfpq, AnnModel(None, Some(cents),
      Some(cb), Some(Similarity.buildIvfpqIndex(e, cents, cb))))
    Similarity.recordDriftBaseline(spark, path, e, cb, Some(cents))

    val clean = Fsck.fsckAnnIndex(spark, path)
    assert(clean.filter(col("status") =!= "ok").count() === 0,
      "fresh index must pass every check")

    // duplicate code rows for one id → codes_complete, and nothing else
    val codesDir = s"$path/pq_codes.parquet"
    spark.read.parquet(codesDir).filter(col("vec_id") === 7L)
      .write.mode("append").parquet(codesDir)
    val dup = Fsck.fsckAnnIndex(spark, path)
    assert(statusOf(dup, "codes_complete") === ("fail", 1L))
    assert(dup.filter(col("status") =!= "ok").count() === 1)

    // a complete foreign-cell id → cells_known (codes_complete stays
    // failed for id 7, so assert both and only both)
    // arithmetic on the existing columns keeps their physical types — a
    // lit() of the wrong width would make the parquet dir unreadable
    spark.read.parquet(codesDir).filter(col("vec_id") === 11L)
      .withColumn("vec_id", col("vec_id") * 0 + 900000L)
      .withColumn("ivf_cell", col("ivf_cell") * 0 + 9999)
      .write.mode("append").parquet(codesDir)
    val foreign = Fsck.fsckAnnIndex(spark, path)
    assert(statusOf(foreign, "cells_known")._1 === "fail")

    // an orphan tombstone (id never indexed) → warn
    Similarity.removeFromIndex(spark, path, Seq(12345678L).toDF("vec_id"))
    assert(statusOf(Fsck.fsckAnnIndex(spark, path),
      "tombstone_orphans") === ("warn", 1L))

    // a crashed append's uncommitted batch file → warn. A real crash
    // leaves VALID parquet task outputs (the marker step died, not the
    // writes), so stage a real part file and rename it in with the
    // b<id>- prefix the commit protocol uses
    val fs = new org.apache.hadoop.fs.Path(codesDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = tmp("graft_fsck_stage")
    spark.read.parquet(codesDir).filter(col("vec_id") === 13L)
      .withColumn("vec_id", col("vec_id") * 0 + 901000L)
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/b")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$stage/b"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head
    assert(fs.rename(part.getPath, new org.apache.hadoop.fs.Path(
      s"$codesDir/b99-${part.getPath.getName}")))
    assert(statusOf(Fsck.fsckAnnIndex(spark, path),
      "uncommitted_batches") === ("warn", 1L))
  }

  test("ann fsck survives the exists-but-empty dirs the crash window produces") {
    val path = tmp("graft_fsck_empty") + "/idx"
    val e = vectors(120)
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    Similarity.saveIndex(path, AnnSpec.Ivfpq, AnnModel(None, Some(cents),
      Some(cb), Some(Similarity.buildIvfpqIndex(e, cents, cb))))
    // replaceBatchFiles mkdirs the target before any rename lands — a
    // crash there leaves empty dirs; the validator must diagnose, not die
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/drift.parquet"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/int8_codes.parquet"))
    val report = Fsck.fsckAnnIndex(spark, path)
    assert(statusOf(report, "drift_monitored")._1 === "warn") // unmonitored
    assert(statusOf(report, "int8_sibling") === ("ok", 0L))
  }

  test("ann fsck: the stamp names the required parts; no stamp or a missing part is index_readable fail") {
    val path = tmp("graft_fsck_stamp") + "/idx"
    val e = vectors(120)
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    def save(): Unit = Similarity.saveIndex(path, AnnSpec.Ivfpq, AnnModel(None,
      Some(cents), Some(cb), Some(Similarity.buildIvfpqIndex(e, cents, cb))))
    save()
    assert(Fsck.fsckAnnIndex(spark, path)
      .filter(col("check") === "index_readable").count() === 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readable(): (String, String) = {
      val r = Fsck.fsckAnnIndex(spark, path)
        .filter(col("check") === "index_readable").collect().head
      (r.getAs[String]("status"), r.getAs[String]("detail"))
    }
    // the crash window between saveIndex's first and last step: every
    // part present, the stamp not yet written
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_ann_spec"), false)
    assert(readable()._1 === "fail")
    assert(readable()._2.contains("_ann_spec"))
    // a part the stamped spec needs — here the codebooks — missing
    save()
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/pq_codebooks.parquet"), true)
    assert(readable()._1 === "fail")
    assert(readable()._2.contains("pq_codebooks"))
  }

  test("ann fsck: missing drift baseline is fail, absent table is warn") {
    val path = tmp("graft_fsck_drift") + "/idx"
    val e = vectors(200)
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    Similarity.saveIndex(path, AnnSpec.Ivfpq, AnnModel(None, Some(cents),
      Some(cb), Some(Similarity.buildIvfpqIndex(e, cents, cb))))
    assert(statusOf(Fsck.fsckAnnIndex(spark, path),
      "drift_monitored")._1 === "warn") // unmonitored
    // a drift table with batch rows but no baseline = a broken monitor
    Seq((0L, 10L, 0.5, 0.2)).toDF("batch_id", "n_vecs", "mean_err",
      "top_cell_share").write.parquet(s"$path/drift.parquet")
    assert(statusOf(Fsck.fsckAnnIndex(spark, path),
      "drift_monitored")._1 === "fail")
  }

  test("minhash fsck: duplicate doc row and mixed signature width flip their checks") {
    val path = tmp("graft_fsck_mh") + "/idx"
    Dedup.saveMinhashIndex(spark, docs(60), path)
    val clean = Fsck.fsckMinhashIndex(spark, path)
    assert(clean.filter(col("status") =!= "ok").count() === 0)

    spark.read.parquet(path).filter(col("doc_id") === 3L)
      .write.mode("append").parquet(path)
    val dup = Fsck.fsckMinhashIndex(spark, path)
    assert(statusOf(dup, "one_row_per_doc") === ("fail", 1L))
    assert(statusOf(dup, "sig_width_uniform")._1 === "ok")

    // a NEW doc with a truncated signature → width check only
    spark.read.parquet(path).filter(col("doc_id") === 5L)
      .withColumn("doc_id", lit(777L))
      .withColumn("sig", slice(col("sig"), 1, 8))
      .write.mode("append").parquet(path)
    assert(statusOf(Fsck.fsckMinhashIndex(spark, path),
      "sig_width_uniform")._1 === "fail")
  }

  test("embedding fsck: id parity and bucket width flip independently") {
    val path = tmp("graft_fsck_emb") + "/idx"
    Dedup.saveEmbeddingIndex(spark, vectors(80), path)
    val clean = Fsck.fsckEmbeddingIndex(spark, path)
    assert(clean.filter(col("status") =!= "ok").count() === 0)

    // an extra bucket row for a live id → width fail, parity still ok
    spark.read.parquet(s"$path/buckets").filter(col("vec_id") === 2L).limit(1)
      .write.mode("append").parquet(s"$path/buckets")
    val wide = Fsck.fsckEmbeddingIndex(spark, path)
    assert(statusOf(wide, "bucket_width_uniform") === ("fail", 1L))
    assert(statusOf(wide, "vector_bucket_parity")._1 === "ok")

    // a vector with no bucket rows → parity fail
    vectors(1).withColumn("vec_id", lit(5555L))
      .select(col("vec_id"), col("embedding"))
      .write.mode("append").parquet(s"$path/vectors")
    assert(statusOf(Fsck.fsckEmbeddingIndex(spark, path),
      "vector_bucket_parity")._1 === "fail")
  }

  test("sink fsck: an unmarked batch file is a fail; committed batches are ok") {
    val base = tmp("graft_fsck_sink")
    val dir = s"$base/audit"
    (0L until 3L).foreach { b =>
      graft.streaming.Streams.commitBatch(spark, dir, b)(
        dir -> (stg => Seq((b, "x")).toDF("batch_id", "v").write.parquet(stg)))
    }
    val clean = Fsck.fsckSinkDir(spark, dir)
    assert(clean.filter(col("status") =!= "ok").count() === 0)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/b9-part-00000.parquet"), true).close()
    assert(statusOf(Fsck.fsckSinkDir(spark, dir),
      "batches_committed") === ("fail", 1L))
  }

  test("config-driven fsck: JSON targets round-trip; malformed configs fail loudly") {
    val base = tmp("graft_fsck_cfg")
    val dir = s"$base/audit"
    graft.streaming.Streams.commitBatch(spark, dir, 0L)(
      dir -> (stg => Seq((0L, "x")).toDF("batch_id", "v").write.parquet(stg)))
    val report = Fsck.runConfig(spark,
      s"""{"targets": [{"kind": "sink_dir", "path": "$dir"}]}""")
    assert(report.filter(col("status") =!= "ok").count() === 0)
    assert(report.select("kind").distinct().head().getString(0) === "sink_dir")
    intercept[IllegalArgumentException] {
      Fsck.runConfig(spark, """{"targets": [{"kind": "bogus", "path": "/x"}]}""")
    }
    intercept[IllegalArgumentException] {
      Fsck.runConfig(spark,
        """{"targets": [{"kind": "ann_index", "path": "/x", "markerBase": "/y"}]}""")
    }
  }

  test("a damaged target degrades to fail rows instead of aborting the batch report") {
    val base = tmp("graft_fsck_degrade")
    Dedup.saveMinhashIndex(spark, docs(32), s"$base/mh")
    // one target that was never built + one healthy one: the nightly
    // report must carry BOTH — an index_readable fail row for the
    // missing artifact, the full check set for the healthy sibling
    val rep = Fsck.runAll(spark, Seq(
      "ann_index" -> s"$base/ann_missing",
      "minhash_index" -> s"$base/mh")).collect()
    assert(rep.exists(r => r.getAs[String]("kind") == "ann_index" &&
      r.getAs[String]("check") == "index_readable" &&
      r.getAs[String]("status") == "fail"))
    assert(rep.exists(r => r.getAs[String]("kind") == "minhash_index" &&
      r.getAs[String]("check") == "one_row_per_doc" &&
      r.getAs[String]("status") == "ok"))
    // exists-but-EMPTY tables (the crash window's mkdirs-before-rename
    // shape) degrade the same way, for every family with a root read
    new java.io.File(s"$base/emb/vectors").mkdirs()
    new java.io.File(s"$base/mh_empty").mkdirs()
    val rep2 = Fsck.runAll(spark, Seq(
      "embedding_index" -> s"$base/emb",
      "minhash_index" -> s"$base/mh_empty")).collect()
    assert(rep2.count(r => r.getAs[String]("check") == "index_readable" &&
      r.getAs[String]("status") == "fail") === 2)
    // a validator blowing up mid-audit (here: a manifest over unreadable
    // data) becomes a named fsck_ran fail row, never an aborted report
    val exp = s"$base/exp"
    Seq((0L, 1L, 2L)).toDF("shard", "n_docs", "n_tokens")
      .write.parquet(s"$exp/_manifest")
    val rep3 = Fsck.runAll(spark, Seq(
      "shard_export" -> exp,
      "minhash_index" -> s"$base/mh")).collect()
    assert(rep3.exists(r => r.getAs[String]("kind") == "shard_export" &&
      Seq("fsck_ran", "manifest_counts").contains(r.getAs[String]("check")) &&
      r.getAs[String]("status") == "fail"))
    assert(rep3.exists(r => r.getAs[String]("kind") == "minhash_index" &&
      r.getAs[String]("status") == "ok"))
  }

  test("agg-state fsck: clean state ok; duplicate keys, lost watermark, parked gen flip") {
    import graft.etl.JsonEtl
    val path = tmp("graft_fsck_agg") + "/state"
    val events = (0 until 100).map(i =>
      (i.toLong % 7, if (i % 2 == 0) "view" else "click", i * 0.25))
      .toDF("user_id", "event_type", "value")
    JsonEtl.foldAt(spark, path, events, 0L, Agg())
    val clean = Fsck.fsckAggState(spark, path)
    assert(clean.filter(col("status") =!= "ok").count() === 0)

    // a parked generation (crash mid-swap) → warn, self-heals next fold
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + ".old"))
    assert(statusOf(Fsck.fsckAggState(spark, path),
      "parked_generation")._1 === "warn")
    fs.delete(new org.apache.hadoop.fs.Path(path + ".old"), true)

    // duplicate key rows → fail (reads double-count NOW)
    spark.read.parquet(path).limit(1).write.mode("append").parquet(path)
    assert(statusOf(Fsck.fsckAggState(spark, path),
      "one_row_per_key") === ("fail", 1L))

    // a deleted watermark → replays can no longer be fenced
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_fold_watermark"), false)
    assert(statusOf(Fsck.fsckAggState(spark, path),
      "watermark_present")._1 === "warn")

    // the N-COLUMN state audits under the same key inference: sum_/
    // sumsq_/min_/max_ columns read as stats, so a duplicated key row
    // still flips one_row_per_key (the fixed 1-column stat-name set
    // would have folded the stat columns into the key and missed it)
    val pathN = tmp("graft_fsck_aggn") + "/state"
    val rows = (0 until 100).map(i =>
      (i.toLong % 5, if (i % 2 == 0) "a" else "b", i * 0.5, i * 2.0))
      .toDF("k1", "k2", "x", "y")
    JsonEtl.aggUpsertAtN(spark, pathN, rows, 0L, Seq("k1", "k2"), Seq("x", "y"))
    assert(Fsck.fsckAggState(spark, pathN)
      .filter(col("status") =!= "ok").count() === 0)
    spark.read.parquet(pathN).limit(1).write.mode("append").parquet(pathN)
    assert(statusOf(Fsck.fsckAggState(spark, pathN),
      "one_row_per_key") === ("fail", 1L))
  }

  test("shard-export fsck: manifest-exact ok; lost file and missing manifest flip") {
    val base = tmp("graft_fsck_shards")
    val out = s"$base/exp"
    graft.ops.TextAnalysis.exportShards(docs(64), out, numShards = 4,
      maxRecordsPerFile = 8L)
    val clean = Fsck.fsckShardExport(spark, out)
    assert(clean.filter(col("status") =!= "ok").count() === 0)

    // a data file lost AFTER the promote → the manifest no longer
    // describes the export a trainer would read
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/shard=0"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).head
    fs.delete(part.getPath, false)
    assert(statusOf(Fsck.fsckShardExport(spark, out),
      "manifest_counts")._1 === "fail")

    // no manifest at all → fail loudly, not a partial report
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_manifest"), true)
    assert(statusOf(Fsck.fsckShardExport(spark, out),
      "manifest_present")._1 === "fail")
  }

  test("psi-baseline fsck: both kinds clean; each corruption flips exactly its check") {
    import graft.ops.Profile
    val base = tmp("graft_fsck_psi")
    val d = spark.read.parquet(s"$sf/documents.parquet")
    Profile.savePsiBaseline(d.filter(col("doc_id") % 2 === 0), s"$base/num")
    assert(Fsck.fsckPsiBaseline(spark, s"$base/num")
      .filter(col("status") =!= "ok").count() === 0)
    Profile.savePsiBaseline(d.filter(col("doc_id") % 2 === 0), s"$base/cat",
      valueCol = "source", categorical = true)
    assert(Fsck.fsckPsiBaseline(spark, s"$base/cat")
      .filter(col("status") =!= "ok").count() === 0)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // numeric baseline without bounds → nothing can bucket against it
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/num/bounds.parquet"), true)
    assert(statusOf(Fsck.fsckPsiBaseline(spark, s"$base/num"),
      "bounds_present")._1 === "fail")

    // truncated boundary array → geometry mismatch (mixed generations)
    Profile.savePsiBaseline(d.filter(col("doc_id") % 2 === 0), s"$base/num")
    val bs = spark.read.parquet(s"$base/num/bounds.parquet")
      .head.getSeq[Double](0)
    Seq(bs.take(5).toSeq).toDF("bs").write.mode("overwrite")
      .parquet(s"$base/num/bounds.parquet")
    assert(statusOf(Fsck.fsckPsiBaseline(spark, s"$base/num"),
      "bounds_geometry")._1 === "fail")

    // duplicate baseline count rows double-count every later PSI
    Profile.savePsiBaseline(d.filter(col("doc_id") % 2 === 0), s"$base/num")
    spark.read.parquet(s"$base/num/base_counts.parquet").limit(1)
      .write.mode("append").parquet(s"$base/num/base_counts.parquet")
    assert(statusOf(Fsck.fsckPsiBaseline(spark, s"$base/num"),
      "one_row_per_key")._1 === "fail")

    // a bounds table beside a categorical baseline is hygiene debt
    Seq(Seq(1.0)).toDF("bs").write.parquet(s"$base/cat/bounds.parquet")
    assert(statusOf(Fsck.fsckPsiBaseline(spark, s"$base/cat"),
      "stale_bounds")._1 === "warn")

    // an unknown kind means NO monitor can read the artifact
    Seq(("source", 10, "fancy")).toDF("value_col", "buckets", "kind")
      .write.mode("overwrite").parquet(s"$base/cat/meta.parquet")
    assert(statusOf(Fsck.fsckPsiBaseline(spark, s"$base/cat"),
      "kind_known")._1 === "fail")
  }

  test("skip-manifest fsck: clean ok; stale coverage, phantoms, drifted stats flip") {
    import graft.ops.Layout
    val dir = tmp("graft_fsck_skip") + "/data"
    (0 until 4000).map(i => (i.toLong, i.toLong % 97))
      .toDF("id", "v").repartitionByRange(4, col("id"))
      .write.parquet(dir)
    Layout.writeManifest(spark, dir, Seq("id"))
    val clean = Fsck.fsckSkipManifest(spark, dir)
    Seq("manifest_present", "stats_sample", "coverage", "phantoms",
      "staging_leftovers").foreach { c =>
      assert(statusOf(clean, c)._1 === "ok", c) }
    // missing manifest → present fail (and nothing else reported)
    val bare = tmp("graft_fsck_skip2") + "/data"
    (0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .write.parquet(bare)
    assert(statusOf(Fsck.fsckSkipManifest(spark, bare),
      "manifest_present")._1 === "fail")
    // appended-after-manifest file → coverage warn ONLY (safe degradation)
    (4000 until 4100).map(i => (i.toLong, i.toLong % 97)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val stale = Fsck.fsckSkipManifest(spark, dir)
    assert(statusOf(stale, "coverage") === ("warn", 1L))
    assert(statusOf(stale, "stats_sample")._1 === "ok")
    Layout.refreshManifest(spark, dir)
    assert(statusOf(Fsck.fsckSkipManifest(spark, dir), "coverage")._1 === "ok")
    // a removed data file → phantom warn only
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).last
    fs.delete(victim, false)
    val ghost = Fsck.fsckSkipManifest(spark, dir)
    assert(statusOf(ghost, "phantoms") === ("warn", 1L))
    assert(statusOf(ghost, "stats_sample")._1 === "ok")
    // the silent-row-loss hazard: rewrite the SAMPLED file's content in
    // place so its real stats disagree with the manifest row → fail
    Layout.refreshManifest(spark, dir)
    val sampled = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).head
    val stagingF = tmp("graft_fsck_skip3")
    (90000 until 90010).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(stagingF)
    val newFile = fs.listStatus(new org.apache.hadoop.fs.Path(stagingF))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.delete(sampled, false)
    assert(fs.rename(newFile, sampled))
    val drifted = Fsck.fsckSkipManifest(spark, dir)
    assert(statusOf(drifted, "stats_sample")._1 === "fail")
  }

  test("join-view fsck: clean state ok; unmarked batch, torn parity, missing table flip") {
    import graft.etl.JsonEtl
    val root = tmp("graft_fsck_jv") + "/jv"
    val facts = (0 until 400).map(i => (i.toLong, (i % 7).toLong, i * 1.5))
      .toDF("order_id", "cust_id", "total")
    val dim = (0 until 7).map(i => (i.toLong, s"tier$i")).toDF("cust_id", "tier")
    graft.streaming.Streams.seedJoinDim(dim, root)
    JsonEtl.joinUpsertLeftAt(spark, root, facts.filter(col("order_id") % 2 === 0),
      0L, Seq("cust_id"))
    JsonEtl.joinUpsertLeftAt(spark, root, facts.filter(col("order_id") % 2 === 1),
      1L, Seq("cust_id"))
    val clean = Fsck.fsckJoinView(spark, root)
    Seq("index_readable", "batches_committed", "batch_parity",
      "staging_leftovers", "markers_folded").foreach { c =>
      assert(statusOf(clean, c)._1 === "ok", c) }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window: a batch-prefixed file with no marker → fail, own check
    val stray = new org.apache.hadoop.fs.Path(s"$root/left/b7-stray.parquet")
    fs.create(stray, true).close()
    val crashed = Fsck.fsckJoinView(spark, root)
    assert(statusOf(crashed, "batches_committed") === ("fail", 1L))
    assert(statusOf(crashed, "batch_parity")._1 === "ok",
      "an UNcommitted stray is the crash window, not torn parity")
    fs.delete(stray, false)
    // torn parity: a committed batch's files vanish from ONE dir → fail
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/left"))
      .map(_.getPath).filter(_.getName.startsWith("b1-"))
      .foreach(p => fs.delete(p, false))
    assert(statusOf(Fsck.fsckJoinView(spark, root), "batch_parity")._1
      === "fail")
    // a missing state table degrades to index_readable, never a throw
    val gone = tmp("graft_fsck_jv2") + "/jv"
    assert(statusOf(Fsck.fsckJoinView(spark, gone), "index_readable")._1
      === "fail")
  }

  test("join-view fsck: right-side removal of a committed batch fails parity on two-sided states") {
    import graft.etl.JsonEtl
    // two-sided joinUpsertAt writes view/left/right per committed batch,
    // so right-only surgery is the same view ≠ L ⋈ R hazard as left-only
    // — the round-10 parity check missed exactly this side
    val root = tmp("graft_fsck_jv4") + "/jv"
    val facts = (0 until 200).map(i => (i.toLong, (i % 5).toLong, i * 2.0))
      .toDF("order_id", "cust_id", "total")
    val dims = (0 until 10).map(i => (i.toLong, s"tier$i")).toDF("cust_id", "tier")
    JsonEtl.joinUpsertAt(spark, root, facts.filter(col("order_id") % 2 === 0),
      dims.filter(col("cust_id") < 5), 0L, Seq("cust_id"))
    JsonEtl.joinUpsertAt(spark, root, facts.filter(col("order_id") % 2 === 1),
      dims.filter(col("cust_id") >= 5), 1L, Seq("cust_id"))
    assert(statusOf(Fsck.fsckJoinView(spark, root), "batch_parity")._1 === "ok")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/right"))
      .map(_.getPath).filter(_.getName.startsWith("b1-"))
      .foreach(p => fs.delete(p, false))
    assert(statusOf(Fsck.fsckJoinView(spark, root), "batch_parity")._1
      === "fail", "a committed batch missing from right alone must fail")
  }

  test("skip-manifest fsck bloom checks: clean ok, append warns coverage, changed file fails the sample") {
    import graft.ops.Layout
    val dir = tmp("graft_fsck_bloom") + "/docs"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    docs.repartition(8, col("doc_id")).write.parquet(dir)
    Layout.writeManifest(spark, dir, Seq("doc_id"))
    Layout.writeBloomManifest(spark, dir, "doc_id")
    val clean = Fsck.fsckSkipManifest(spark, dir)
    Seq("stats_sample", "bloom_sample", "bloom_coverage", "coverage")
      .foreach(c => assert(statusOf(clean, c)._1 === "ok", c))
    // an append is uncovered by BOTH manifests — warns, never fails
    docs.limit(5).write.mode("append").parquet(dir)
    val appended = Fsck.fsckSkipManifest(spark, dir)
    assert(statusOf(appended, "bloom_coverage")._1 === "warn")
    assert(statusOf(appended, "bloom_sample")._1 === "ok")
    Layout.refreshManifest(spark, dir)
    Layout.refreshBloomManifest(spark, dir)
    // rewrite the SAMPLED file's content in place: its rows now miss the
    // stored Bloom — the silent-row-loss hazard for point-pruned reads
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sampled = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).head
    val stagingF = tmp("graft_fsck_bloom_stage")
    (800000 until 800050).map(i => (i.toLong, i.toLong))
      .toDF("doc_id", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(stagingF)
    val newFile = fs.listStatus(new org.apache.hadoop.fs.Path(stagingF))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.delete(sampled, false)
    assert(fs.rename(newFile, sampled))
    assert(statusOf(Fsck.fsckSkipManifest(spark, dir), "bloom_sample")._1
      === "fail")
  }

  test("state-dir fsck: clean durable sketch states ok; each corruption flips exactly its own check") {
    import graft.etl.JsonEtl
    val events = spark.read.parquet(s"$sf/events.parquet")
    val b = (0L to 1L).map(i => events.filter(col("event_id") % 2 === i))
    val base = tmp("graft_fsck_state")
    JsonEtl.foldAt(spark, s"$base/aud", b(0), 0L, Audience())
    JsonEtl.foldAt(spark, s"$base/aud", b(1), 1L, Audience())
    JsonEtl.quantileUpsertAt(spark, s"$base/q", b(0), 0L)
    JsonEtl.quantileUpsertAt(spark, s"$base/q", b(1), 1L)
    val allChecks = Seq("state_readable", "watermark_present",
      "watermark_parsable", "meta_readable", "meta_kind_known",
      "one_row_per_key", "parked_generation", "staging_leftovers")
    Seq(s"$base/aud", s"$base/q").foreach { p =>
      val clean = Fsck.fsckStateDir(spark, p)
      allChecks.foreach(c => assert(statusOf(clean, c)._1 === "ok", s"$p $c"))
    }
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(p: String, txt: String): Unit = {
      val o = fs.create(new org.apache.hadoop.fs.Path(p), true)
      o.write(txt.getBytes("UTF-8")); o.close()
    }
    // garbage watermark → watermark_parsable fail, presence still ok
    write(s"$base/aud/_fold_watermark", "not-a-number")
    val badWm = Fsck.fsckStateDir(spark, s"$base/aud")
    assert(statusOf(badWm, "watermark_present")._1 === "ok")
    assert(statusOf(badWm, "watermark_parsable")._1 === "fail")
    write(s"$base/aud/_fold_watermark", "1")
    // deleted watermark → warn, own check only
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/q/_fold_watermark"), false)
    assert(statusOf(Fsck.fsckStateDir(spark, s"$base/q"),
      "watermark_present")._1 === "warn")
    write(s"$base/q/_fold_watermark", "1")
    // tampered meta kind → meta_kind_known fail
    write(s"$base/aud/_state_meta", "kind=mystery\nlgk=12")
    val badKind = Fsck.fsckStateDir(spark, s"$base/aud")
    assert(statusOf(badKind, "meta_kind_known")._1 === "fail")
    assert(statusOf(badKind, "one_row_per_key")._1 === "ok")
    // deleted meta → pre-meta warn (self-heals at the next stamping fold)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/aud/_state_meta"), false)
    val noMeta = Fsck.fsckStateDir(spark, s"$base/aud")
    assert(statusOf(noMeta, "meta_readable")._1 === "warn")
    assert(statusOf(noMeta, "one_row_per_key")._1 === "ok")
    JsonEtl.foldAt(spark, s"$base/aud", b(1), 2L, Audience()) // re-adopts
    assert(statusOf(Fsck.fsckStateDir(spark, s"$base/aud"),
      "meta_readable")._1 === "ok")
    // duplicate key rows → one_row_per_key fail (copy a data file in)
    // largest part file — small shuffle partitions leave empty parts, and
    // duplicating an empty file would duplicate no key
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/q"))
      .filter(_.getPath.getName.endsWith(".parquet")).maxBy(_.getLen).getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, dataFile, fs,
      new org.apache.hadoop.fs.Path(s"$base/q/dup-${dataFile.getName}"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(statusOf(Fsck.fsckStateDir(spark, s"$base/q"),
      "one_row_per_key")._1 === "fail")
    // ... and still fails without a stamp to name the keys: they are
    // inferred from the column names
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/q/_state_meta"), false)
    assert(statusOf(Fsck.fsckStateDir(spark, s"$base/q"),
      "one_row_per_key")._1 === "fail")
    // parked generation → warn; missing live + parked → readable warn
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/q"), true)
    JsonEtl.quantileUpsertAt(spark, s"$base/q", b(0), 0L)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$base/q"),
      new org.apache.hadoop.fs.Path(s"$base/q.old")))
    val parked = Fsck.fsckStateDir(spark, s"$base/q")
    assert(statusOf(parked, "state_readable")._1 === "warn")
    assert(statusOf(parked, "parked_generation")._1 === "warn")
  }

  test("the gate report covers every artifact family of the scratch world, no failures") {
    val report = Fsck.opsFsckReport(spark, sf)
    assert(report.select(col("kind")).distinct().count() === Fsck.Kinds.size)
    assert(report.filter(col("status") === "fail").count() === 0,
      "the maintenance scratch world must hold no integrity failures")
  }
}
