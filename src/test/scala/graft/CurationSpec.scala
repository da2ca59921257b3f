package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, TextAnalysis}

class CurationSpec extends SparkSpec {

  private lazy val out = Curation.prepareCorpus(spark, sf).collect()
  private lazy val kept = out.map(_.getAs[Long]("doc_id")).toSet

  test("the funnel emits a non-trivial shard-packed corpus") {
    assert(out.nonEmpty)
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(kept.size < total, "the funnel must drop something on this corpus")
  }

  test("every survivor passed the quality/language gate") {
    val curated = TextAnalysis.curateCorpus(spark, sf)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.subsetOf(curated))
  }

  test("no contaminated document survives") {
    val contaminated = TextAnalysis.decontaminateDocs(spark, sf)
      .filter(col("contaminated") === 1L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.intersect(contaminated).isEmpty)
  }

  test("no near-dup pair survives whole: at most one member each") {
    Dedup.minhashLsh(spark, sf).collect().foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      assert(!(kept.contains(d1) && kept.contains(d2)),
        s"near-dup pair ($d1,$d2) both survived")
    }
  }

  test("packing invariants hold over the surviving corpus") {
    out.groupBy(_.getAs[Long]("bucket")).foreach { case (bucket, docs) =>
      var cum = 0L
      docs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("bucket") === r.getAs[Long]("doc_id") % 8)
        val expectShard = bucket * 1000000L + (cum / 256L)
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("cum_tokens") === cum)
        assert(r.getAs[Long]("shard") === expectShard)
      }
    }
  }

  test("the funnel is rerun-deterministic") {
    val again = Curation.prepareCorpus(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
    assert(again === out.map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet)
  }

  test("funnel over precomputed pairs equals funnel over recomputed pairs") {
    val pairs = Dedup.minhashLsh(spark, sf).cache()
    try {
      val viaPairs = Curation.prepareCorpus(spark, sf, pairs = Some(pairs))
        .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
      assert(viaPairs === out.map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet)
    } finally { pairs.unpersist(); () }
  }

  test("fuzzy decontamination stage subtracts exactly the flagged ids from the funnel") {
    val fuzzyOut = Curation.prepareCorpus(spark, sf, fuzzyDecontaminate = true)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val baseKept = out.map(_.getAs[Long]("doc_id")).toSet
    val flagged = Dedup.decontaminateFuzzy(spark, sf)
      .collect().map(_.getAs[Long]("train_id")).toSet
    // fuzzy only ever narrows the corpus, and the narrowing is exactly
    // the flagged docs that the rest of the funnel would have kept
    assert(fuzzyOut.subsetOf(baseKept))
    assert(baseKept -- fuzzyOut === baseKept.intersect(flagged))
  }

  test("classifier stage subtracts exactly the model-dropped ids; gated entry is deterministic") {
    val w = graft.ops.TextAnalysis.QualityWeights()
    val gated = Curation.prepareCorpus(spark, sf,
        classifierWeights = Some(w))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val baseKept = out.map(_.getAs[Long]("doc_id")).toSet
    val modelDropped = graft.ops.TextAnalysis.qualityClassifier(spark, sf, w)
      .filter(org.apache.spark.sql.functions.col("keep") === 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // the model filter only ever NARROWS the funnel, and the narrowing is
    // exactly the docs the classifier drops that the rest would have kept
    assert(gated.subsetOf(baseKept))
    assert(baseKept -- gated === baseKept.intersect(modelDropped))
    assert(gated.nonEmpty, "default weights must keep a non-trivial corpus")
    // the runnable entry (pipelined pairs + fed weights) reruns identically
    val e1 = Curation.prepareCorpusClassified(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"))).toSet
    val e2 = Curation.prepareCorpusClassified(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"))).toSet
    assert(e1 === e2)
    assert(e1.map(_._1) === gated)
  }

  test("the funnel composes with SEMANTIC (embedding) pairs — any edge list plugs in") {
    // the pairs parameter's contract: ANY (d1, d2) edge list drives the
    // near-dup stage — here SemDeDup's embedding pairs instead of
    // MinHash's text pairs, i.e. the "semantic curation" composition a
    // training pipeline runs, with zero new operator code
    val semPairs = Dedup.semantic(spark, sf)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val semOut = Curation.prepareCorpus(spark, sf, pairs = Some(semPairs)).collect()
    assert(semOut.nonEmpty)
    val semKept = semOut.map(_.getAs[Long]("doc_id")).toSet
    semPairs.collect().foreach { r =>
      assert(!(semKept(r.getLong(0)) && semKept(r.getLong(1))),
        s"semantic pair (${r.getLong(0)}, ${r.getLong(1)}) must not survive whole")
    }
  }

  test("pipelined query entry equals the one-shot funnel") {
    // the memoized-pairs form is the same funnel fed materialized edges;
    // calling it twice also exercises the memo's reuse path
    val once = Curation.prepareCorpusPipelined(spark, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
    val again = Curation.prepareCorpusPipelined(spark, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
    assert(once === out.map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet)
    assert(again === once)
  }

  test("the funnel pins no labels cache after return (ownership honored)") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    Curation.prepareCorpus(spark, sf).write.format("noop").mode("overwrite").save()
    assert(cm.isEmpty,
      "prepareCorpus must unpersist the propagateMinLabels cache it owns")
  }

  test("resumable funnel: equals the one-shot funnel, and resumes, not recomputes") {
    val work = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val first = Curation.prepareCorpus(spark, sf, workDir = Some(work)).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
    assert(first === out.map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet,
      "materialized stages must not change the result")
    // stage markers exist
    Seq("curated_ids", "clean_ids", "dropped_ids").foreach { st =>
      assert(new java.io.File(s"$work/$st/_SUCCESS").exists(), st)
    }
    // delete ONE stage; a rerun rebuilds only that stage (the untouched
    // stages keep their files — checked via directory mtime on local fs)
    def mtime(st: String) = new java.io.File(s"$work/$st/_SUCCESS").lastModified()
    val curatedBefore = mtime("curated_ids")
    val droppedBefore = mtime("dropped_ids")
    assert(new java.io.File(s"$work/clean_ids/_SUCCESS").delete())
    val second = Curation.prepareCorpus(spark, sf, workDir = Some(work)).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet
    assert(second === first)
    assert(mtime("curated_ids") === curatedBefore, "curated stage must be skipped")
    assert(mtime("dropped_ids") === droppedBefore,
      "dropped stage must be skipped — resuming is the point: the LSH cost is not re-paid")
    assert(mtime("clean_ids") > 0, "clean stage was rebuilt")
  }

  test("mixture sampling: full-rate sources survive whole, rates hold, no RNG") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sample = Curation.mixtureSample(docs, Curation.DemoMix, defaultBps = 1000)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = sample.groupBy(_._2).view.mapValues(_.length).toMap
    val totalBySrc = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") === totalBySrc("src0"), "10000 bps keeps everything")
    // a 25% source keeps roughly a quarter (the hash is uniform-ish, the
    // corpus per-source is small — allow wide slack; exactness is the
    // oracle's job, this pins the semantics)
    assert(bySrc.getOrElse("src3", 0) < totalBySrc("src3"),
      "2500 bps must drop something")
    // deterministic: same config, same sample — no rand() anywhere
    val again = Curation.mixtureSample(docs, Curation.DemoMix, defaultBps = 1000)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSeq === sample.toSeq)
    // and the plan is a pure map-side filter: no aggregate, no join — the
    // only exchange is the output ORDER BY (oracle determinism)
    val plan = Curation.mixtureSample(docs, Curation.DemoMix, 1000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"), plan)
  }

  test("shuffle order is a seeded permutation; split assignment is stable and ~5/5/90") {
    import org.apache.spark.sql.functions.col
    val n = Tables(spark, sf).documents.count()
    val e0 = Curation.shuffleOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a permutation: positions are exactly 1..n, each doc once
    assert(e0.map(_._1).toSeq === (1L to n).toSeq)
    assert(e0.map(_._2).distinct.length === n.toInt)
    // epoch seeds reshuffle: a different seed must not preserve the order
    val e1 = Curation.shuffleOrder(spark, sf, seed = "epoch1").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(e0.map(_._2).toSeq !== e1.map(_._2).toSeq)
    assert(e1.map(_._2).sorted.toSeq === e0.map(_._2).sorted.toSeq)
    // split: deterministic, full cover, fractions near 13/256 each tail
    val splits = Curation.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(splits.length === n.toInt)
    val frac = splits.groupBy(_._2).view.mapValues(_.length.toDouble / n).toMap
    assert(frac("train") > 0.8, s"train fraction ${frac("train")}")
    assert(frac.getOrElse("test", 0.0) > 0.01 && frac("test") < 0.12, frac.toString)
    assert(frac.getOrElse("val", 0.0) > 0.01 && frac("val") < 0.12, frac.toString)
    // membership is a pure per-row predicate — re-running agrees row-for-row
    assert(Curation.splitAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === splits.toSeq)
  }

  test("temperature mixture: shares normalize, α=0.5 flattens toward uniform") {
    val rows = graft.ops.Curation.mixtureTemperature(spark, sf).collect()
    assert(rows.length > 1)
    val nat = rows.map(_.getAs[Double]("nat_share"))
    val temp = rows.map(_.getAs[Double]("temp_share"))
    assert(math.abs(nat.sum - 1.0) < 1e-12)
    assert(math.abs(temp.sum - 1.0) < 1e-12)
    // α=0.5 preserves the source ORDER and compresses the extremes:
    // the largest share can only shrink, the smallest can only grow,
    // and the max/min ratio contracts to its square root (mid-sized
    // sources may legitimately cross uniform — α-sampling flattens the
    // distribution, it does not clamp at uniform)
    val byNat = nat.zip(temp).sortBy(_._1)
    assert(byNat.map(_._2).sameElements(byNat.map(_._2).sorted),
      "temperature scaling must preserve the share order")
    assert(byNat.last._2 <= byNat.last._1 + 1e-12, "max share must shrink")
    assert(byNat.head._2 >= byNat.head._1 - 1e-12, "min share must grow")
    val (nMin, tMin) = byNat.head; val (nMax, tMax) = byNat.last
    assert(tMax / tMin <= math.sqrt(nMax / nMin) * (1 + 1e-9),
      s"ratio must contract to sqrt: ${tMax / tMin} vs sqrt(${nMax / nMin})")
    // sample_weight is the up/down-sampling factor by construction
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("sample_weight")
        - r.getAs[Double]("temp_share") / r.getAs[Double]("nat_share")) < 1e-15)
    }
  }

  test("cluster mixture: deterministic subset, near budget, flatter than input") {
    val budget = 200L
    val a = Curation.clusterMixture(spark, sf, k = 8, budgetDocs = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Curation.clusterMixture(spark, sf, k = 8, budgetDocs = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq, "hash-cut sampling must be rerun-deterministic")
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.map(_._1).toSet.subsetOf(corpus))
    assert(a.length.toDouble > budget * 0.5 && a.length.toDouble < budget * 1.5,
      s"kept ${a.length} docs for budget $budget")
    // exact recomputation: rebuild the designed per-cluster keep rates from
    // the same clustering and pin the kept set to {docs whose Knuth-hash
    // lands under their cluster's rate} — noise-free, and it makes the
    // α = 0.5 flattening checkable on the DESIGNED rates (monotone
    // non-increasing in cluster size), not on sampled counts
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.ops.Similarity.kmeans(e, pmod(col("vec_id"), lit(8)), 2)
    val assigned = graft.ops.Similarity.assignCells(e, cents)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val sizes = assigned.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val z = sizes.values.map(math.sqrt).sum
    val rate = sizes.map { case (c, n) =>
      c -> math.min(1.0, math.sqrt(n) / z * budget / n) }
    val expected = assigned.filter { case (id, c) =>
      (((id % 100000007L) * 2654435761L) % 1000000L + 1000000L) % 1000000L <
        rate(c) * 1000000.0
    }.map(_._1).toSet
    assert(a.map(_._1).toSet === expected,
      "kept set must equal the designed rate-cut recomputation")
    rate.toSeq.sortBy(x => sizes(x._1)).sliding(2).foreach {
      case Seq((c1, r1), (c2, r2)) =>
        assert(r1 >= r2 - 1e-12,
          s"rates must not increase with cluster size: " +
            s"n=${sizes(c1)}→$r1 vs n=${sizes(c2)}→$r2")
      case _ =>
    }
  }

  test("weighted sample: exactly k, deterministic per seed, weight-proportional, TopK plan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val s1 = Curation.weightedSample(docs, k = 300)
    val rows = s1.collect()
    assert(rows.length === 300, "E-S sampling returns exactly k rows")
    // deterministic: the same seed draws the same sample; a fresh seed redraws
    assert(Curation.weightedSample(docs, 300).collect().map(_.getLong(0)).toSeq
      === rows.map(_.getLong(0)).toSeq)
    val other = Curation.weightedSample(docs, 300, seed = "wsample1")
      .collect().map(_.getLong(0)).toSet
    assert(other != rows.map(_.getLong(0)).toSet, "seed changes the draw")
    // weight-proportionality: P(doc in sample) ∝ weight, so the sample's
    // mean weight must exceed the corpus mean (clearly, not marginally)
    val sampleMean = rows.map(_.getAs[Long]("weight")).sum.toDouble / rows.length
    val corpusMean = docs.filter(col("n_chars") > 0)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleMean > 1.05 * corpusMean,
      s"size-weighted draw must favor long docs: $sampleMean vs $corpusMean")
    // the scale contract: sort+limit compiles to TakeOrderedAndProject
    // (per-partition k-heaps, no global sort, no corpus shuffle)
    assert(s1.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("weighted sample: gate output equals the in-JVM E-S recompute exactly") {
    // the gate entry is declared rows-only (libm pow is ~1-ulp, so a
    // cross-engine rank-k boundary could flip without a code change);
    // THIS pin carries the exactness claim instead — both sides run the
    // same Math.pow on the same dyadic uniforms, so it is platform-stable
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars")).collect()
      .filter(_.getAs[Long]("n_chars") > 0)
      .map { r =>
        val id = r.getAs[Long]("doc_id")
        val w = r.getAs[Long]("n_chars")
        val hex = md.digest(s"wsample0:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
        (id, w, math.pow(u, 1.0 / w))
      }
      .sortBy { case (id, _, key) => (-key, id) }
      .take(500)
    val got = Curation.weightedSampleDocs(spark, sf).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq
      === expected.map(_._1).toSeq, "selection and order must match")
    assert(got.map(_.getAs[Long]("weight")).toSeq
      === expected.map(_._2).toSeq)
  }

  test("leakage-safe split: near-dup pairs never straddle splits; unlabeled docs match splitAssign") {
    val safe = Curation.splitAssignLeakageSafeDocs(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val plain = Curation.splitAssign(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(safe.keySet === plain.keySet, "one assignment per doc")
    // THE property: no near-dup pair straddles a split boundary — the
    // eval-contamination hole the plain hash split leaves open
    val pairs = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the corpus must carry near-dup pairs")
    val straddlersPlain = pairs.count { case (a, b) => plain(a) != plain(b) }
    pairs.foreach { case (a, b) =>
      assert(safe(a) === safe(b), s"near-dup pair ($a,$b) straddles splits") }
    // the plain split DOES leak on this corpus (otherwise the test is
    // vacuous and the operator pointless here)
    assert(straddlersPlain > 0,
      "the plain hash split must actually leak on the dup-dense corpus")
    // docs outside any component keep exactly the plain assignment —
    // adopting the safe form only ever moves near-dup cluster members
    val labeled = Dedup.nearDupGroups(spark, sf)
    val inGroup = labeled.collect().map(_.getLong(0)).toSet
    labeled.unpersist()
    safe.filterNot(kv => inGroup(kv._1)).foreach { case (id, sp) =>
      assert(sp === plain(id), s"unlabeled doc $id moved") }
    // deterministic: a second run reproduces the assignment
    assert(Curation.splitAssignLeakageSafeDocs(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === safe)
  }

  test("group sample: exactly n per group (or the whole group), deterministic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = 100
    val sizes = Curation.groupSample(docs, n).groupBy(col("source"))
      .agg(count(lit(1)).as("c"), max(col("draw")).as("mx")).collect()
    val groupTotals = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.nonEmpty && sizes.length === groupTotals.size,
      "every source is represented")
    sizes.foreach { r =>
      val expect = math.min(n.toLong, groupTotals(r.getAs[String]("source")))
      assert(r.getAs[Long]("c") === expect)
      assert(r.getAs[Long]("mx") === expect, "draws are 1..n, gapless")
    }
    val a = Curation.groupSample(docs, n).collect().map(_.getLong(0)).toSet
    assert(Curation.groupSample(docs, n).collect().map(_.getLong(0)).toSet === a)
  }

  test("propagateMinLabels' returned frame really unpersists (sameResult contract)") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val pairs = Dedup.minhashLsh(spark, sf)
    val (labels, _) = Dedup.propagateMinLabels(pairs)
    assert(!cm.isEmpty, "returned labels frame should be cached")
    labels.unpersist()
    assert(cm.isEmpty,
      "unpersist on the RETURNED frame must clear the cache entry — " +
        "caching an internal ancestor would make this a silent no-op")
  }
}
