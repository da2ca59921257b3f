package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{AnnCode, AnnModel, AnnSource, AnnSpec, Similarity}

class SimilaritySpec extends SparkSpec {

  private def topk(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  private lazy val exact = topk(Similarity.topk(spark, sf, AnnSpec.Exact))

  /** A declared tier's model read back from the session's persisted index. */
  private def fedModel(spec: AnnSpec): AnnModel =
    Similarity.modelFor(spark, sf, spec, AnnSource.Fed)
  private def indexedModel(spec: AnnSpec): AnnModel =
    Similarity.modelFor(spark, sf, spec, AnnSource.Indexed)

  /** Persist an IVF-PQ index: models `cents`/`cb` and their `codes`. */
  private def saveIvfpq(path: String, cents: DataFrame, cb: DataFrame,
      codes: DataFrame, spec: AnnSpec = AnnSpec.Ivfpq): Unit =
    Similarity.saveIndex(path, spec, AnnModel(None, Some(cents), Some(cb),
      Some(codes)))

  /** The live codes of the index at `path`. */
  private def codesAt(path: String): DataFrame =
    Similarity.openIndex(spark, path)._2.codes.get

  test("brute force returns a full top-5 per query, ranked by cosine") {
    assert(exact.size === 10)
    exact.values.foreach(ns => assert(ns.size === 5))
    val df = Similarity.topk(spark, sf, AnnSpec.Exact).collect()
    df.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val byRank = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  private def recallAt5(approx: Map[Long, Seq[Long]]): Double = {
    val hits = exact.map { case (q, ns) =>
      approx.getOrElse(q, Seq.empty).count(ns.toSet.contains)
    }.sum
    hits.toDouble / (exact.size * 5)
  }

  test("filtered ANN: predicate honored, k fills from the eligible set, recall holds") {
    import org.apache.spark.sql.functions._
    val evenIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fExact = topk(Similarity.topk(spark, sf, AnnSpec.Exact.filtered(AnnSpec.evenLabel)))
    val fIvf = topk(Similarity.topk(spark, sf, AnnSpec.Ivf.filtered(AnnSpec.evenLabel)))
    // every neighbor in BOTH tiers satisfies the predicate
    (fExact.values ++ fIvf.values).flatten.foreach(n =>
      assert(evenIds.contains(n), s"neighbor $n fails the predicate"))
    // PRE-filtering fills k from the eligible set (~50% selectivity leaves
    // far more than 5 eligible); a post-filtered generic top-5 would keep
    // only the even survivors of the unfiltered list
    assert(fExact.size === 10)
    fExact.values.foreach(ns => assert(ns.size === 5, "exact tier must fill k"))
    fIvf.values.foreach(ns => assert(ns.size === 5, "ivf tier must fill k"))
    val postFiltered = exact.view.mapValues(_.filter(evenIds.contains)).toMap
    assert(postFiltered.values.exists(_.size < 5),
      "on this corpus post-filtering demonstrably under-fills k — the " +
        "shape pre-filtering exists to fix")
    // recall vs the FILTERED exact tier at the family's usual floor
    val hits = fExact.map { case (q, ns) =>
      fIvf.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
    val r = hits.toDouble / (fExact.size * 5)
    assert(r >= 0.15, s"filtered recall@5=$r")
    // the selectivity router: a tight threshold routes IVF, a loose one
    // routes exact (recall 1.0 on a small eligible set), and the routed
    // output IS the chosen tier's output
    val pred = col("label") % 2 === 0
    assert(Similarity.filteredServingTier(spark, sf, pred, 10L) === "ivf")
    assert(Similarity.filteredServingTier(spark, sf, pred, 100000L) === "exact")
    assert(topk(Similarity.filteredTopkAuto(spark, sf, pred, 100000L)) === fExact)
    assert(topk(Similarity.filteredTopkAuto(spark, sf, pred, 10L)) === fIvf)
  }

  test("filtered INDEXED serving: predicate honored, trivial filter ≡ unfiltered tier") {
    import org.apache.spark.sql.functions._
    val evenIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fIdx = topk(Similarity.topk(spark, sf,
      AnnSpec.Ivfpq.filtered(AnnSpec.evenLabel), indexedModel(AnnSpec.Ivfpq)))
    // every neighbor satisfies the predicate and k fills (pre-filter)
    fIdx.values.flatten.foreach(n =>
      assert(evenIds.contains(n), s"neighbor $n fails the predicate"))
    assert(fIdx.size === 10)
    fIdx.values.foreach(ns => assert(ns.size === 5, "indexed tier must fill k"))
    // recall vs the filtered-exact tier at the PQ family's floor
    val fExact = topk(Similarity.topk(spark, sf, AnnSpec.Exact.filtered(AnnSpec.evenLabel)))
    val hits = fExact.map { case (q, ns) =>
      fIdx.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
    val r = hits.toDouble / (fExact.size * 5)
    assert(r >= 0.15, s"filtered indexed recall@5=$r")
    // pred = true makes the restriction the identity: the filtered path
    // must reproduce the unfiltered indexed serving tier row-for-row, so
    // the two can never drift
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq.filtered(lit(true)),
        indexedModel(AnnSpec.Ivfpq)))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq, indexedModel(AnnSpec.Ivfpq))))
  }

  test("filtered serving from the composed indexes (OPQ raw + flagship residual)") {
    import org.apache.spark.sql.functions._
    val evenIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fExact = topk(Similarity.topk(spark, sf, AnnSpec.Exact.filtered(AnnSpec.evenLabel)))
    // both composed rungs serve predicates from THEIR persisted artifact;
    // the same pre-filter contract as the raw-IVFPQ rung: predicate
    // honored, k fills from the eligible set, recall at the family floor,
    // and the trivial predicate reproduces the unfiltered serving tier
    // row-for-row — the filtered path can never drift from the flagship
    def rung(spec: AnnSpec) = (
      topk(Similarity.topk(spark, sf, spec.filtered(AnnSpec.evenLabel),
        indexedModel(spec))),
      topk(Similarity.topk(spark, sf, spec.filtered(lit(true)), indexedModel(spec))),
      topk(Similarity.topk(spark, sf, spec, indexedModel(spec))))
    val rungs = Seq(
      ("opq_raw", rung(AnnSpec.OpqIvfpq)),
      ("residual_flagship", rung(AnnSpec.OpqIvfpqResidual)))
    for ((name, (filtered, trivial, unfiltered)) <- rungs) {
      filtered.values.flatten.foreach(n =>
        assert(evenIds.contains(n), s"$name: neighbor $n fails the predicate"))
      assert(filtered.size === 10, s"$name: all 10 queries answered")
      filtered.values.foreach(ns =>
        assert(ns.size === 5, s"$name: k must fill from the eligible set"))
      val hits = fExact.map { case (q, ns) =>
        filtered.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
      val r = hits.toDouble / (fExact.size * 5)
      assert(r >= 0.15, s"$name: filtered recall@5=$r")
      assert(trivial === unfiltered,
        s"$name: pred=true must equal the unfiltered indexed tier")
    }
  }

  test("LSH top-k achieves useful recall vs brute force") {
    val r = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Lsh)))
    // embeddings are near-random (max cosine ~0.5), the hardest case for
    // LSH; the bound pins the deterministic measured value with headroom.
    assert(r >= 0.15, s"recall@5=$r")
  }

  test("IVF top-k achieves useful recall vs brute force") {
    val r = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Ivf)))
    assert(r >= 0.15, s"recall@5=$r")
  }

  test("IVF probes limit the searched fraction (it is not brute force)") {
    val n = Similarity.topk(spark, sf, AnnSpec.Ivf).count()
    assert(n === 50) // still a full top-5 per query
  }

  test("LSH geometry is a runtime knob: more bits → fewer candidates") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    // Σ n·(n-1)/2 over buckets = the candidate-pair volume the equi-join does
    def candidatePairs(bits: Int): Long =
      Similarity.lshBuckets(e, 64, 4, bits)
        .groupBy("tbl", "bucket").count()
        .agg(sum(expr("count * (count - 1) DIV 2")).as("pairs"))
        .head.getLong(0)
    val (wide, narrow) = (candidatePairs(4), candidatePairs(8))
    assert(narrow < wide, s"8-bit buckets ($narrow pairs) must prune vs 4-bit ($wide)")
    // the narrow geometry still produces a valid (if lower-recall) result
    val r8 = recallAt5(topk(Similarity.topk(spark, sf,
      AnnSpec(code = AnnCode.Lsh(4, 8)))))
    val r4 = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Lsh)))
    assert(r8 <= r4, s"narrower buckets cannot increase recall (r8=$r8 r4=$r4)")
  }

  test("LSH top-k shuffle exchanges carry ids, never embedding vectors") {
    // the id→embedding re-join must broadcast for this plan shape to hold;
    // pin the threshold so the assertion tests the code, not session drift
    withConf("spark.sql.autoBroadcastJoinThreshold", "10485760b") {
    val fmt = Similarity.topk(spark, sf, AnnSpec.Lsh).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffleBlocks = fmt.split("\n\n").filter(b =>
      b.linesIterator.nextOption.exists(_.matches("""\(\d+\) Exchange.*"""))
        && b.contains("hashpartitioning"))
    assert(shuffleBlocks.nonEmpty, "expected at least the candidate-dedup exchange")
    shuffleBlocks.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert("""\b(embedding|qe|ne)#""".r.findFirstIn(input).isEmpty,
        s"a shuffle carries vectors:\n$b")
    }
    }
  }

  test("IVF cell assignment is an aggregation, not a window sort") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("label"))
    val cents = Similarity.centroids(e, refineIters = 0)
    val plan = Similarity.assignCells(e, cents).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "assignment must not sort N×cells rows")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      "assignment should be a (partial) aggregation")
  }

  test("label centroids: partial-agg scale tier agrees with the exact fold tier") {
    val exact = Similarity.labelCentroids(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val partial = Similarity.labelCentroidsPartial(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(exact.keySet === partial.keySet)
    exact.foreach { case (k, (n, c)) =>
      val (pn, pc) = partial(k)
      assert(pn === n, s"$k: vector counts must match")
      // only summation ORDER differs between the tiers; at these magnitudes
      // double reassociation error is bounded well under 1e-9
      assert(math.abs(pc - c) < 1e-9, s"$k: exact=$c partial=$pc")
    }
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val dims = exact.keySet.map(_._2).size
    assert(exact.map { case ((l, _), (n, _)) => (l, n) }.toSeq.distinct
      .map(_._2).sum === total, "per-label counts partition the corpus")
    assert(dims === 64)
  }

  test("int8 two-stage retrieval recovers the exact top-k almost everywhere") {
    val exact = Similarity.topk(spark, sf, AnnSpec.Exact).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = Similarity.topk(spark, sf, AnnSpec.Int8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"shortlist-50 + exact rerank should recover >=90% of true top-5, got $recall")
    // reranked scores are the EXACT cosine, so overlapping pairs agree
    val exactScores = Similarity.topk(spark, sf, AnnSpec.Exact).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Similarity.topk(spark, sf, AnnSpec.Int8).collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(2))
      exactScores.get(k).foreach(e => assert(e === r.getDouble(3)))
    }
  }

  test("int8+IVF recovers what full-float scoring of the same cells finds") {
    // The composed tier's own contract: within the probed cells, the int8
    // shortlist + exact rerank must recover >=90% of what the IVF tier's full-
    // precision scan of the SAME cells finds. Recall vs brute force is
    // capped by the cell-probing stage (a property of the IVF family on
    // this near-random corpus), so that gets the family floor, not 0.9.
    val ivf = topk(Similarity.topk(spark, sf, AnnSpec.Ivf))
    val got = topk(Similarity.topk(spark, sf, AnnSpec.Int8Ivf))
    val hits = ivf.map { case (q, ns) =>
      got.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
    val vsIvf = hits.toDouble / ivf.values.map(_.size).sum
    assert(vsIvf >= 0.9, s"int8+IVF vs float-IVF recall=$vsIvf")
    val vsBf = recallAt5(got)
    assert(vsBf >= 0.15, s"int8+IVF vs brute-force recall=$vsBf")
    assert(got.size === 10)
    got.values.foreach(ns => assert(ns.size === 5))
  }

  test("PQ codebooks: m*ksub cells, subspace-dim centroids") {
    val cb = graft.ops.Similarity.pqCodebooks(
      spark.read.parquet(s"$sf/embeddings.parquet")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    assert(cb.length === 8 * 16, "one centroid per (subspace, sub-cell)")
    assert(cb.map(_._1).toSet === (0 until 128).toSet)
    cb.foreach { case (_, c) => assert(c.length === 8) }
  }

  test("PQ ADC retrieval: table-lookup shortlist + exact rerank recovers useful recall") {
    val got = topk(Similarity.topk(spark, sf, AnnSpec.Pq))
    assert(got.size === 10)
    got.values.foreach(ns => assert(ns.size === 5))
    val r = recallAt5(got)
    // near-random embeddings are the hard case for every bucketed/
    // quantized tier here (cf. the 0.15 LSH/IVF floors); 8 bytes/vector
    // + shortlist-100 rerank measured 0.88 — pinned with headroom
    assert(r >= 0.6, s"PQ recall@5=$r")
  }

  test("OPQ: orthonormal learned rotation, PQ-floor recall, fed = inline = saved model") {
    val (rot, cb) = Similarity.trainOpq(spark, sf)
    val r = rot.collect()
      .map(x => (x.getAs[Long]("comp"), x.getAs[Seq[Double]]("weights")))
      .sortBy(_._1).map(_._2.toArray)
    assert(r.length === 64)
    // R must stay orthogonal through the Procrustes iterations: RRᵀ = I
    for (i <- 0 until 64; j <- i until 64) {
      val dot = (0 until 64).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"RRt($i,$j)=$dot")
    }
    // rotation is learned to HELP quantization: rotated-space error under
    // the OPQ codebooks must not exceed raw PQ error beyond local-optimum
    // noise (near-random embeddings are ~isotropic, so the two converge;
    // the strict-improvement case is the anisotropic corpus test below)
    val e = graft.Tables(spark, sf).embeddings
    val errPq = Similarity.quantizationError(e, Similarity.pqCodebooks(e))
    val errOpq = Similarity.quantizationError(Similarity.rotateFrame(e, r), cb)
    assert(errOpq <= errPq * 1.05,
      s"OPQ reconstruction error $errOpq vs PQ $errPq")
    val fed = topk(Similarity.topk(spark, sf, AnnSpec.Opq,
      AnnModel(transform = Some(rot), codebooks = Some(cb))))
    assert(fed.size === 10)
    fed.values.foreach(ns => assert(ns.size === 5))
    assert(recallAt5(fed) >= 0.6, s"OPQ recall@5=${recallAt5(fed)}")
    // training is deterministic, so the inline convenience form and a
    // parquet-round-tripped model must reproduce the fed output exactly
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Opq)) === fed)
    val dir = java.nio.file.Files.createTempDirectory("graft_opq").toString
    Similarity.saveIndex(dir, AnnSpec.Opq,
      AnnModel(transform = Some(rot), codebooks = Some(cb)))
    val AnnModel(Some(rot2), None, Some(cb2), None) =
      Similarity.openIndex(spark, dir)._2
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Opq,
      AnnModel(transform = Some(rot2), codebooks = Some(cb2)))) === fed)
  }

  test("OPQ+IVFPQ: family floor holds, fed = inline = saved model triple") {
    val m = Similarity.train(spark, sf, AnnSpec.OpqIvfpq)
    val fed = topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpq, m))
    assert(fed.size === 10)
    fed.values.foreach(ns => assert(ns.size === 5))
    // IVF-family floor: cell probing caps recall (the Int8Ivf band)
    assert(recallAt5(fed) >= 0.15, s"OPQ+IVFPQ recall@5=${recallAt5(fed)}")
    // deterministic training → inline equals fed; model round-trips
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpq)) === fed)
    val dir = java.nio.file.Files.createTempDirectory("graft_opqivf").toString
    Similarity.saveIndex(dir, AnnSpec.OpqIvfpq, m)
    val AnnModel(Some(r2), Some(c2), Some(cb2), None) =
      Similarity.openIndex(spark, dir)._2
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpq,
      AnnModel(Some(r2), Some(c2), Some(cb2)))) === fed)
    // the session-memoized fed/indexed gate entries equal their one-shot twins
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpq,
      fedModel(AnnSpec.OpqIvfpq))) === fed)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpq,
      indexedModel(AnnSpec.OpqIvfpq))) === fed)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Opq, fedModel(AnnSpec.Opq)))
      === topk(Similarity.topk(spark, sf, AnnSpec.Opq)))
  }

  test("residual OPQ+IVFPQ: recall holds the composed raw-code tier, fed = inline = loaded") {
    val m = Similarity.train(spark, sf, AnnSpec.OpqIvfpqResidual)
    val res = topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpqResidual, m))
    assert(res.size === 10)
    res.values.foreach(ns => assert(ns.size === 5))
    // the residual composition must not trail the raw-code composition at
    // the same geometry — the IvfpqResidual argument carried under
    // the learned rotation (residuals concentrate near zero, the code
    // budget buys within-cell detail)
    val raw = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpq)))
    val r = recallAt5(res)
    assert(r >= raw,
      s"residual OPQ+IVFPQ recall@5=$r must not trail raw composed=$raw")
    assert(r >= 0.15, s"IVF-family floor: $r")
    // deterministic training → inline ≡ fed; the triple round-trips disk
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpqResidual)) === res)
    val dir = java.nio.file.Files.createTempDirectory("graft_opqres").toString
    Similarity.saveIndex(dir, AnnSpec.OpqIvfpqResidual, m)
    val AnnModel(Some(r2), Some(c2), Some(cb2), None) =
      Similarity.openIndex(spark, dir)._2
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpqResidual,
      AnnModel(Some(r2), Some(c2), Some(cb2)))) === res)
    // the memoized fed gate entry equals the one-shot twin, and the
    // indexed rung (serving from the saved OPQ,IVF,residual-PQ artifact
    // — stamp, rotation, models and codes all read back from disk)
    // reproduces it too
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpqResidual,
      fedModel(AnnSpec.OpqIvfpqResidual))) === res)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.OpqIvfpqResidual,
      indexedModel(AnnSpec.OpqIvfpqResidual))) === res)
  }

  test("OPQ beats PQ where PQ is weakest: variance concentrated inside one subspace") {
    // anisotropic corpus — the textbook OPQ case (Ge et al. 2013 §5's
    // multi-Gaussian setting): 20 well-separated cluster centers whose
    // geometry lives entirely in dims 0-7, exactly one PQ subspace. Raw
    // PQ must quantize 20 centers with the 16 centroids of that one
    // subspace (the other 15/16 of the code budget sees only noise);
    // the learned rotation spreads the center geometry across all 8
    // subspaces, whose independent 16-cell quantizers compose to 16^8
    // effective cells — reconstruction error must drop strictly.
    val spark2 = spark
    import spark2.implicits._
    def prand(seed: Long): Double = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val rows = (0 until 1500).map { i =>
      val c = i % 20
      val emb = Array.tabulate(64) { d =>
        val center = if (d < 8) 4.0 * prand(c.toLong * 64 + d) else 0.0
        (center + 0.25 * prand((i.toLong << 8) + d)).toFloat
      }
      (i.toLong, emb)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_aniso").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val errPq = Similarity.quantizationError(e, Similarity.pqCodebooks(e))
    val (rot, cb) = Similarity.trainOpq(spark, dir)
    val r = rot.collect()
      .map(x => (x.getAs[Long]("comp"), x.getAs[Seq[Double]]("weights")))
      .sortBy(_._1).map(_._2.toArray)
    val errOpq = Similarity.quantizationError(Similarity.rotateFrame(e, r), cb)
    assert(errOpq < errPq * 0.9,
      s"OPQ must strictly beat PQ on anisotropic data: $errOpq vs $errPq")
  }

  test("recall report: exact scores 1.0, tiers agree with the spec's own recall math") {
    val rows = Similarity.annRecallReport(spark, sf).collect()
      .map(r => r.getAs[String]("tier") ->
        (r.getAs[Long]("n_queries"), r.getAs[Double]("mean_recall"),
          r.getAs[Double]("min_recall"))).toMap
    assert(rows.keySet === Set("exact", "int8", "ivf", "lsh"))
    rows.values.foreach { case (n, mean, mn) =>
      assert(n === 10)
      assert(mean >= 0.0 && mean <= 1.0 && mn >= 0.0 && mn <= mean + 1e-12)
    }
    assert(rows("exact")._2 === 1.0 && rows("exact")._3 === 1.0)
    // the report must compute the same number this suite computes
    assert(math.abs(rows("lsh")._2
      - recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Lsh)))) < 1e-12)
    assert(math.abs(rows("ivf")._2
      - recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Ivf)))) < 1e-12)
  }

  test("IVFPQ: cell-restricted ADC keeps the family floor and tracks full-scan PQ") {
    val got = topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq))
    assert(got.size === 10)
    got.values.foreach(ns => assert(ns.size === 5))
    // the cell stage caps recall vs brute force (IVF family property) —
    // family floor, same as Ivf/Int8Ivf; measured 0.50 here
    val vsBf = recallAt5(got)
    assert(vsBf >= 0.15, s"IVFPQ vs brute-force recall=$vsBf")
    // the PQ-stage loss in isolation: against exact float scoring of the
    // SAME probed cells (Ivf), the shortlist-100 ADC + exact rerank
    // must recover the within-cell top-5 almost whole (the Int8Ivf
    // contract shape) — measured 0.98, pinned with headroom
    val ivf = topk(Similarity.topk(spark, sf, AnnSpec.Ivf))
    val hits = ivf.map { case (q, ns) =>
      got.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
    val vsIvf = hits.toDouble / ivf.values.map(_.size).sum
    assert(vsIvf >= 0.85, s"IVFPQ vs float-IVF-same-cells recall=$vsIvf")
  }

  test("precomputed-model forms equal the self-contained forms (PQ codebooks, IVF centroids)") {
    // the pipeline contract: train once, feed every retrieval — results
    // must be identical to inline training (clustering is deterministic)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("label"))
    val cb = Similarity.pqCodebooks(e)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Pq, AnnModel(codebooks = Some(cb))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Pq)))
    val cents = Similarity.centroids(e)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Int8Ivf,
        AnnModel(centroids = Some(cents))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Int8Ivf)))
  }

  test("saved ANN models round-trip parquet bit-exactly and feed retrieval identically") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    val path = java.nio.file.Files.createTempDirectory("graft_ann_models").toString
    Similarity.saveIndex(path, AnnSpec.Ivfpq,
      AnnModel(centroids = Some(cents), codebooks = Some(cb)))
    val AnnModel(None, Some(lc), Some(lcb), None) =
      Similarity.openIndex(spark, path)._2
    // float centroids must survive the parquet round trip bit-exactly —
    // that's what makes fed-from-disk retrieval IDENTICAL, not just close
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Float]] =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(asMap(lc) === asMap(cents))
    assert(asMap(lcb) === asMap(cb))
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq,
        AnnModel(centroids = Some(lc), codebooks = Some(lcb))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq)))
    // IVF joins the family: fed centroids = inline training
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivf, AnnModel(centroids = Some(lc))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivf)))
    // the FULL index (models + corpus codes): codes round-trip parquet
    // and index-fed retrieval — nothing about the corpus recomputed —
    // is still identical, raw and residual alike
    val ipath = java.nio.file.Files.createTempDirectory("graft_ann_index").toString
    saveIvfpq(ipath, cents, cb, Similarity.buildIvfpqIndex(e, cents, cb))
    val AnnModel(_, Some(ic), Some(icb), Some(icodes)) =
      Similarity.openIndex(spark, ipath)._2
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq,
        AnnModel(None, Some(ic), Some(icb), Some(icodes))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq)))
    val rcb = Similarity.pqCodebooks(
      Similarity.residualVectors(e, cents).select(col("vec_id"), col("embedding")))
    val rcodes = Similarity.buildIvfpqIndex(e, cents, rcb, residual = true)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.IvfpqResidual,
        AnnModel(None, Some(cents), Some(rcb), Some(rcodes))))
      === topk(Similarity.topk(spark, sf, AnnSpec.IvfpqResidual)))
  }

  test("the fed and indexed gate entries (build-save-load once per session) equal the one-shot entry") {
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq, fedModel(AnnSpec.Ivfpq)))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq)))
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq, indexedModel(AnnSpec.Ivfpq)))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq)))
  }

  test("int8 codes persist and feed retrieval identically; index append equals full rebuild") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    // int8: quantize once, save, load, feed both tiers — outputs identical
    // (longs and doubles round-trip parquet bit-exactly)
    val path = java.nio.file.Files.createTempDirectory("graft_int8").toString
    Similarity.saveInt8Codes(path, Similarity.quantizeVectors(e))
    val qz = Similarity.loadInt8Codes(spark, path)
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Int8, AnnModel(codes = Some(qz))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Int8)))
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Int8Ivf, AnnModel(codes = Some(qz))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Int8Ivf)))
    // append: encode a new batch against FROZEN models — identical to
    // rebuilding the whole index with those models (codes are per-vector)
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    val base = e.filter(col("vec_id") < 450)
    val batch = e.filter(col("vec_id") >= 450)
    def codeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Int)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    val appended = Similarity.appendToIndex(batch, cents, cb,
      Similarity.buildIvfpqIndex(base, cents, cb))
    assert(codeSet(appended) === codeSet(Similarity.buildIvfpqIndex(e, cents, cb)))
  }

  test("residual IVFPQ: recall at least matches the raw-code tier at the same geometry") {
    val res = topk(Similarity.topk(spark, sf, AnnSpec.IvfpqResidual))
    assert(res.size === 10)
    res.values.foreach(ns => assert(ns.size === 5))
    // residuals concentrate near zero, so the same 8×16 code budget buys
    // finer within-cell resolution — measured 0.52 vs raw 0.50 here (both
    // capped by the shared cell-probing stage); everything is
    // deterministic, so >= is a stable pin, not a flaky one
    val raw = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq)))
    val r = recallAt5(res)
    assert(r >= raw, s"residual recall@5=$r must not trail raw-code ivfpq=$raw")
    // and the within-cell contract holds like the raw tier: vs exact float
    // scoring of the SAME probed cells — measured 0.98
    val ivf = topk(Similarity.topk(spark, sf, AnnSpec.Ivf))
    val hits = ivf.map { case (q, ns) =>
      res.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
    val vsIvf = hits.toDouble / ivf.values.map(_.size).sum
    assert(vsIvf >= 0.85, s"residual IVFPQ vs float-IVF-same-cells recall=$vsIvf")
  }

  test("PQ/IVFPQ recall on a cluster-structured corpus (the regime the tiers are built for)") {
    // the driver corpus is near-random — LSH/IVF/PQ's documented worst
    // case, where the 0.5-0.88 recalls undersell the tiers. Real embedding
    // corpora are cluster-structured; synthesize one (deterministic:
    // splitmix-seeded centers, small within-cluster noise) and measure the
    // same contracts where they're actually used.
    val spark2 = spark
    import spark2.implicits._
    def prand(seed: Long): Double = { // splitmix64 → uniform [-0.5, 0.5)
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val (n, nClusters, dim) = (2000, 20, 64)
    val rows = (0 until n).map { i =>
      val c = i % nClusters
      val emb = Array.tabulate(dim) { d =>
        (prand(c.toLong * 64 + d) + 0.15 * prand((i.toLong << 8) + d)).toFloat
      }
      (i.toLong, emb, c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_structured").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val exactS = topk(Similarity.topk(spark, dir, AnnSpec.Exact))
    def recallS(m: Map[Long, Seq[Long]]): Double = {
      val hits = exactS.map { case (q, ns) =>
        m.getOrElse(q, Seq.empty).count(ns.toSet.contains) }.sum
      hits.toDouble / (exactS.size * 5)
    }
    val pq = recallS(topk(Similarity.topk(spark, dir, AnnSpec.Pq)))
    val ivfpq = recallS(topk(Similarity.topk(spark, dir, AnnSpec.Ivfpq)))
    val res = recallS(topk(Similarity.topk(spark, dir, AnnSpec.IvfpqResidual)))
    // measured 1.0 / 1.0 / 1.0 — every tier recovers the exact top-5
    // whole when the corpus has the structure the tiers exploit; the
    // near-random-corpus floors (0.6 / 0.15) are the corpus's fault, not
    // the tiers'. Pinned at 0.9 for headroom.
    assert(pq >= 0.9, s"structured-corpus PQ recall@5=$pq")
    assert(ivfpq >= 0.9, s"structured-corpus IVFPQ recall@5=$ivfpq")
    assert(res >= ivfpq - 1e-9,
      s"structured-corpus residual recall@5=$res must not trail raw=$ivfpq")
    // sample-trained coarse quantizer in the same regime: 500 of 2000
    // training points (25/cluster) recover the cluster structure a full
    // scan would — retrieval parity holds tight exactly where the tiers
    // are used (the near-random-corpus parity test needs a wider band
    // because there the cells are arbitrary)
    locally {
      import org.apache.spark.sql.functions.col
      val eS = spark.read.parquet(s"$dir/embeddings.parquet")
      val fullIvf = recallS(topk(Similarity.topk(spark, dir, AnnSpec.Ivf,
        AnnModel(centroids = Some(
          Similarity.kmeans(eS, col("label"), 2, trainCap = Long.MaxValue))))))
      val sampIvf = recallS(topk(Similarity.topk(spark, dir, AnnSpec.Ivf,
        AnnModel(centroids = Some(
          Similarity.kmeans(eS, col("label"), 2, trainCap = 500))))))
      assert(sampIvf >= fullIvf - 0.05,
        s"structured sample-trained IVF recall@5=$sampIvf vs full $fullIvf")
    }
  }

  test("JL projection is bit-exact vs an in-order Scala fold and preserves distances") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray)
      .toMap
    val proj = Similarity.project(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dim")) ->
        r.getAs[Double]("y"))
      .toMap
    assert(proj.size === emb.size * Similarity.ProjK)
    // same fold order as the Spark plan: index 0..63 left to right
    emb.foreach { case (id, x) =>
      (0 until Similarity.ProjK).foreach { j =>
        var acc = 0.0
        var i = 0
        while (i < 64) { acc += x(i).toDouble * Similarity.ProjSigns(j)(i); i += 1 }
        assert(proj((id, j.toLong)) === acc / 4.0,
          s"vec $id dim $j not bit-exact")
      }
    }
    // JL property: projected L2 distances track original ones. With k=16
    // the distortion is loose — and this corpus is near-random, so original
    // distances are tightly clustered (little variance to explain); the
    // deterministic measured correlation is 0.421, pinned with headroom.
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum)
    val ids = emb.keys.toSeq.sorted.take(30)
    val orig = for (a <- ids; b <- ids if a < b)
      yield l2(emb(a).map(_.toDouble), emb(b).map(_.toDouble))
    val prjv = ids.map(id => (0 until Similarity.ProjK)
      .map(j => proj((id, j.toLong))).toArray)
    val prjMap = ids.zip(prjv).toMap
    val red = for (a <- ids; b <- ids if a < b) yield l2(prjMap(a), prjMap(b))
    val mo = orig.sum / orig.size; val mr = red.sum / red.size
    val cov = orig.zip(red).map { case (o, r) => (o - mo) * (r - mr) }.sum
    val corr = cov / math.sqrt(
      orig.map(o => (o - mo) * (o - mo)).sum * red.map(r => (r - mr) * (r - mr)).sum)
    assert(corr > 0.3, s"distance correlation $corr too weak for a JL map")
  }

  test("JL two-stage retrieval recovers most of the exact top-k; fed form is identical") {
    val r50 = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Jl)))
    val r150 = recallAt5(topk(Similarity.topk(spark, sf,
      AnnSpec.Jl.copy(shortlist = 150))))
    // near-random 64-dim corpus squeezed to 16 dims — the hardest case for
    // a JL coarse scorer (all cosines are near 0, so the projected ordering
    // is noisy); measured 0.50 at shortlist-50, the IVFPQ family floor.
    // The shortlist knob buys recall linearly in rerank cost — pinned
    // monotone here. A structured corpus recovers ~1.0 (same mechanism
    // as the PQ tiers' structured-corpus spec).
    assert(r50 >= 0.45, s"JL recall@5 $r50 below floor at shortlist 50")
    assert(r150 >= r50, s"wider shortlist lost recall: $r150 < $r50")
    assert(r150 >= 0.6, s"JL recall@5 $r150 below floor at shortlist 150")
    // fed-projection form (project once per corpus build) is plan-identical
    val fed = Similarity.topk(spark, sf, AnnSpec.Jl, AnnModel(codes =
      Some(Similarity.projectVectors(graft.Tables(spark, sf).embeddings))))
    assert(topk(fed) === topk(Similarity.topk(spark, sf, AnnSpec.Jl)))
  }

  test("PCA basis: orthonormal, variance-ordered; retrieval ≥ JL; fed form identical") {
    val comps = Similarity.trainPca(spark, sf).collect()
      .sortBy(_.getAs[Long]("comp"))
    val m = comps.map(_.getSeq[Double](1).toArray)
    assert(m.length === Similarity.ProjK && m.forall(_.length === 64))
    // orthonormal basis (the eigendecomposition contract)
    for (a <- m.indices; b <- a until m.length) {
      val dot = m(a).zip(m(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<c$a,c$b> = $dot")
    }
    // explained variance is non-increasing and positive
    val ev = comps.map(_.getAs[Double]("explained_var"))
    assert(ev.forall(_ > 0))
    assert(ev.zip(ev.tail).forall { case (a, b) => a >= b },
      s"variance not sorted: ${ev.toSeq}")
    // learned basis beats (or ties) the random JL sheet at the same k —
    // the point of paying the training pass
    val rPca = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Pca)))
    val rJl = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Jl)))
    assert(rPca >= rJl - 0.05, s"PCA recall $rPca far below JL $rJl at equal k")
    assert(rPca >= 0.45, s"PCA recall@5 $rPca below floor")
    // fed-components form (train once per corpus build) is output-identical
    val fed = Similarity.topk(spark, sf, AnnSpec.Pca,
      AnnModel(transform = Some(Similarity.trainPca(spark, sf))))
    assert(topk(fed) === topk(Similarity.topk(spark, sf, AnnSpec.Pca)))
  }

  test("PCA model round-trips through parquet with identical retrieval") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca").toString
    Similarity.trainPca(spark, sf).write.parquet(s"$dir/pca")
    val loaded = spark.read.parquet(s"$dir/pca")
    // parquet doubles round-trip bit-exactly, so fed-from-disk retrieval
    // is identical to inline — the same train-once contract as the
    // IVF/PQ model artifacts
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Pca,
        AnnModel(transform = Some(loaded))))
      === topk(Similarity.topk(spark, sf, AnnSpec.Pca)))
  }

  test("int8 quantization: bounded reconstruction error, near-unit cosine") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val q = Similarity.quantize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(q.keySet.size === emb.size * 64)
    emb.foreach { case (id, xs) =>
      val scale = xs.map(math.abs).max
      val deq = (0 until 64).map(d => q((id, d.toLong)).toDouble / 127.0 * scale)
      // per-component error bound of symmetric int8: half a quantization step
      xs.zip(deq).foreach { case (x, y) =>
        assert(math.abs(x - y) <= scale / 127.0 * 0.5 + 1e-12,
          s"vec $id: |$x - $y| exceeds the quantization step bound") }
      val dot = xs.zip(deq).map { case (a, b) => a * b }.sum
      val na = math.sqrt(xs.map(a => a * a).sum)
      val nb = math.sqrt(deq.map(b => b * b).sum)
      if (na > 0 && nb > 0)
        assert(dot / (na * nb) > 0.99, s"vec $id: quantization destroyed direction")
    }
  }

  test("ADC query-batch chunking is output-invariant (chunked ≡ one-shot)") {
    // maxBatchQ=3 forces the 10-query gate batch into 4 hash-chunks, each
    // its own bounded-broadcast ADC subplan — outputs must be IDENTICAL to
    // the single-broadcast form because queries are independent through
    // the shortlist. This is the serving-batch contract: a 100k-query
    // batch never rides one GB-scale broadcast
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Pq.copy(maxBatchQ = 3)))
      === topk(Similarity.topk(spark, sf, AnnSpec.Pq)))
    assert(topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq.copy(maxBatchQ = 3)))
      === topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq)))
    assert(topk(Similarity.topk(spark, sf, AnnSpec.IvfpqResidual.copy(maxBatchQ = 3)))
      === topk(Similarity.topk(spark, sf, AnnSpec.IvfpqResidual)))
  }

  test("serving forms answer arbitrary query batches; corpus-query parity is exact") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // corpus-query parity (the serving form fed the SAME batch the gate
    // form derives internally) is pinned for every declared spec by the
    // declared-spec loop below; an EXTERNAL batch (disjoint id namespace, vectors copied from
    // corpus rows): the nearest neighbor of a corpus vector's copy is
    // the vector itself — rank 1, cosine ≈ 1 — because no id-equality
    // exclusion applies across namespaces
    val ext = e.filter(col("vec_id") >= 20 && col("vec_id") < 25)
      .select((col("vec_id") + 1000000L).as("query_id"), col("embedding"))
    val got = Similarity.ivfpqTopkForQueries(spark, sf, ext).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    assert(got.map(_._1).distinct.length === 5)
    got.filter(_._2 == 1L).foreach { case (q, _, n, c) =>
      assert(n === q - 1000000L && c > 0.999,
        s"query $q: expected its source vector at rank 1, got $n ($c)")
    }
  }

  test("ANN index delete: tombstone ≡ rebuild-without-vector; compaction makes it physical") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val path = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    saveIvfpq(path, cents, cb, Similarity.buildIvfpqIndex(e, cents, cb))
    val AnnModel(_, Some(lc), Some(lcb), Some(lcodes)) =
      Similarity.openIndex(spark, path)._2
    def served(codes: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      topk(Similarity.topk(spark, sf, AnnSpec.Ivfpq,
        AnnModel(None, Some(lc), Some(lcb), Some(codes))))
    // victim: a vector the index currently SERVES as a neighbor — deletion
    // must change a real answer, not a bystander's codes
    val victim = served(lcodes).values.flatten.filter(_ >= 10).min
    Similarity.removeFromIndex(spark, path, Seq(victim).toDF("vec_id"))
    val codes2 = codesAt(path)
    assert(codes2.filter(col("vec_id") === victim).count() == 0)
    assert(!served(codes2).values.flatten.toSet.contains(victim),
      "deleted vector must never be served again")
    // one tombstone list covers every per-vector artifact at the path:
    // int8 codes stored alongside load with the same takedown applied,
    // and compaction (below) folds it into their files too
    Similarity.saveInt8Codes(path, Similarity.quantizeVectors(e))
    assert(Similarity.loadInt8Codes(spark, path)
      .filter(col("vec_id") === victim).count() == 0)
    // codes are per-vector functions of frozen models, so the tombstoned
    // index is EXACTLY the index built without the vector — not approximately
    def codeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Int)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    val rebuilt = Similarity.buildIvfpqIndex(
      e.filter(col("vec_id") =!= victim), cents, cb)
    assert(codeSet(codes2) === codeSet(rebuilt))
    // compaction: tombstone folded into the physical files and dropped;
    // reads identical before and after
    val (fb, fa, n) = Similarity.compactIndex(spark, path)
    assert(spark.read.parquet(s"$path/pq_codes.parquet")
      .filter(col("vec_id") === victim).count() == 0,
      "compaction must physically remove tombstoned rows")
    assert(spark.read.parquet(s"$path/int8_codes.parquet")
      .filter(col("vec_id") === victim).count() == 0,
      "compaction must fold the tombstone into EVERY per-vector artifact")
    assert(!new java.io.File(s"$path/tombstones.parquet").exists())
    assert(fa <= fb && n == rebuilt.count())
    val codes3 = codesAt(path)
    assert(codeSet(codes3) === codeSet(rebuilt))
    // a REBUILD at the same path starts clean: no stale tombstones filter
    // the new corpus build
    Similarity.removeFromIndex(spark, path, Seq(0L).toDF("vec_id"))
    saveIvfpq(path, cents, cb, Similarity.buildIvfpqIndex(e, cents, cb))
    val fresh = codesAt(path)
    assert(fresh.filter(col("vec_id") === 0L).count() > 0,
      "rebuild must clear tombstones from the previous build")
  }

  test("training sample: deterministic, bounded, identity below the cap") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val n = e.count() // 500 at sf0.001
    // identity when the corpus fits the cap — the no-op path every gate
    // query takes, so nothing about gate plans or outputs changed
    assert(Similarity.trainSample(e, n) eq e)
    // deterministic: two evaluations pick the same vec_ids (pure hash of
    // vec_id, independent of partitioning / evaluation order)
    def ids(cap: Long): Seq[Long] = Similarity.trainSample(e, cap)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(250) === ids(250))
    // bounded: the hash slice targets ~cap rows; binomial noise around it
    // is fine, an unbounded or near-empty sample is not
    val got = ids(250).size
    assert(got <= 350 && got >= 150, s"sample of cap=250 from n=$n got $got")
    // monotone nesting: a smaller cap's sample is a subset of a larger
    // cap's (the hash ring slices nest) — retraining with a raised cap
    // only ADDs training data
    assert(ids(125).toSet.subsetOf(ids(250).toSet))
  }

  test("sample-trained k-means: recall parity vs full-corpus training at two caps") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    // full-corpus training (cap >= N) is the pre-sampling behavior; force
    // the sample on at two geometries and require retrieval recall within
    // noise of it — the centroids differ, but both are valid quantizations
    // of the same distribution, so the cell-probing recall cap moves only
    // marginally
    def ivf(cents: DataFrame) = topk(Similarity.topk(spark, sf, AnnSpec.Ivf,
      AnnModel(centroids = Some(cents))))
    val full = recallAt5(ivf(
      Similarity.kmeans(e, col("label"), 2, trainCap = Long.MaxValue)))
    // cap=250 keeps ~25 points/cell: measured 0.52 vs full 0.52 — within
    // the 0.1 parity band
    val rHalf = recallAt5(ivf(
      Similarity.kmeans(e, col("label"), 2, trainCap = 250)))
    assert(rHalf >= full - 0.1,
      s"sample-trained (cap=250) recall@5=$rHalf vs full-trained $full")
    // cap=125 starves cells (~12 points each — far under the
    // TrainSamplePerCell=100 floor the production cap formula enforces):
    // measured 0.38 vs 0.52, a real degradation that is exactly WHY the
    // per-cell floor exists. Still a valid quantization — pinned at the
    // family's recall floor, not at parity
    val rQuarter = recallAt5(ivf(
      Similarity.kmeans(e, col("label"), 2, trainCap = 125)))
    assert(rQuarter >= 0.15,
      s"sample-trained (cap=125) recall@5=$rQuarter below floor")
    // PQ side: codebooks fit on the sample, corpus still encodes in full —
    // ADC retrieval keeps useful recall at a halved training corpus
    val fullPq = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Pq, AnnModel(
      codebooks = Some(Similarity.pqCodebooks(e, trainCap = Long.MaxValue))))))
    val sampPq = recallAt5(topk(Similarity.topk(spark, sf, AnnSpec.Pq, AnnModel(
      codebooks = Some(Similarity.pqCodebooks(e, trainCap = 250))))))
    assert(sampPq >= fullPq - 0.1,
      s"sample-trained PQ recall@5=$sampPq vs full-trained $fullPq")
  }

  test("auto-tuner: cheapest config wins on structured data, near-random data escalates, no overshoot") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    // cluster-structured corpus (the regime the IVF ladder serves): a
    // query's whole top-5 lives in its own cluster, so ONE probed cell
    // already recovers it — the tuner must pick nprobe=1 and must never
    // evaluate anything costlier
    def prand(seed: Long): Double = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val rows = (0 until 2000).map { i =>
      val c = i % 20
      (i.toLong, Array.tabulate(64) { d =>
        (prand(c.toLong * 64 + d) + 0.15 * prand((i.toLong << 8) + d)).toFloat
      }, c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_tune").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.centroids(e)
    val ran = scala.collection.mutable.Set[String]()
    def cand(name: String, cost: Double, mk: () => org.apache.spark.sql.DataFrame) =
      (name, cost, () => { ran += name; mk() })
    def ivf(d: String, c: org.apache.spark.sql.DataFrame, n: Int) = () =>
      Similarity.topk(spark, d, AnnSpec.Ivf.copy(nprobe = Some(n)),
        AnnModel(centroids = Some(c)))
    val exS = Similarity.topk(spark, dir, AnnSpec.Exact)
    val (tierS, recallS, metS) = Similarity.tuneForRecall(exS, Seq(
      cand("ivf_nprobe1", 1.0, ivf(dir, cents, 1)),
      cand("ivf_nprobe2", 2.0, ivf(dir, cents, 2)),
      cand("exact", 1e9, () => exS)), target = 0.8)
    assert(tierS === "ivf_nprobe1" && metS && recallS >= 0.8,
      s"structured corpus: cheapest config must win ($tierS, $recallS)")
    assert(ran.toSet === Set("ivf_nprobe1"),
      s"candidates past the winner must never execute: $ran")
    // the flagship serving tier takes the same dial (round 9 threaded
    // nprobe through the whole ivfpq/opq family): tuning the ivfpq
    // nprobe ladder over a frozen index picks the cheapest probe depth
    ran.clear()
    val cb = Similarity.pqCodebooks(e)
    val codes = Similarity.buildIvfpqIndex(e, cents, cb)
    val (tierP, recallP, metP) = Similarity.tuneForRecall(exS, Seq(
      cand("ivfpq_nprobe1", 1.0, () => Similarity.topk(spark, dir,
        AnnSpec.Ivfpq.copy(nprobe = Some(1)),
        AnnModel(None, Some(cents), Some(cb), Some(codes)))),
      cand("ivfpq_nprobe3", 3.0, () => Similarity.topk(spark, dir,
        AnnSpec.Ivfpq.copy(nprobe = Some(3)),
        AnnModel(None, Some(cents), Some(cb), Some(codes))))), target = 0.8)
    assert(tierP === "ivfpq_nprobe1" && metP && recallP >= 0.8,
      s"frozen-index ivfpq tuning must pick nprobe=1 ($tierP, $recallP)")
    assert(ran.toSet === Set("ivfpq_nprobe1"), s"early exit held: $ran")
    // the near-random driver corpus: no nprobe in the ladder reaches 0.9
    // — the tuner must escalate through the ladder to the exact tier
    ran.clear()
    val exR = Similarity.topk(spark, sf, AnnSpec.Exact)
    val centsR = Similarity.centroids(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    val (tierR, recallR, metR) = Similarity.tuneForRecall(exR, Seq(
      cand("ivf_nprobe1", 1.0, ivf(sf, centsR, 1)),
      cand("ivf_nprobe3", 3.0, ivf(sf, centsR, 3)),
      cand("exact", 1e9, () => exR)), target = 0.9)
    assert(tierR === "exact" && metR && recallR === 1.0,
      s"near-random corpus must escalate to exact ($tierR, $recallR)")
    assert(ran.toSet === Set("ivf_nprobe1", "ivf_nprobe3", "exact"),
      s"escalation must walk the whole ladder: $ran")
    // the gate form resolves to one met-target row
    val gate = Similarity.annAutotune(spark, sf).collect()
    assert(gate.length === 1)
    assert(gate.head.getAs[Boolean]("target_met"),
      "the exact last resort makes the gate resolver total")
  }

  test("on-disk batch append: codes + drift row commit under one marker, retries replay idempotently") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_ann_append").toString + "/idx"
    val cents = Similarity.centroids(corpus)
    val cb = Similarity.pqCodebooks(corpus)
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(corpus, cents, cb))
    Similarity.recordDriftBaseline(spark, ip, corpus, cb, Some(cents))
    val day = e.filter(col("vec_id") % 4 === 0)
    assert(Similarity.appendToIndexAt(spark, ip, day, 0L), "first apply")
    def codeSet(): Set[(Long, Int, Int, Int)] =
      codesAt(ip).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    val expect = Similarity.buildIvfpqIndex(e, cents, cb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    assert(codeSet() === expect, "append ≡ rebuild under the same models")
    val rep = Similarity.driftReport(spark, ip).collect()
    assert(rep.length === 1 && rep.head.getAs[Long]("batch_id") === 0L
      && !rep.head.getAs[Boolean]("drifted"))
    // marker present → replay is a whole-batch no-op
    assert(!Similarity.appendToIndexAt(spark, ip, day, 0L))
    assert(codeSet() === expect)
    // crash window (files landed, marker lost) → the retry REPLACES the
    // batch's file set; duplicates would break the ADC n_subs = m filter
    val fs = new org.apache.hadoop.fs.Path(ip)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${ip}_batches/0"), false)
    assert(Similarity.appendToIndexAt(spark, ip, day, 0L))
    assert(codeSet() === expect, "retry must replace, not duplicate")
    assert(Similarity.driftReport(spark, ip).count() === 1)
    // compaction interplay: an UNCOMMITTED batch's partial code files
    // (crash before marker) must not be absorbed into compacted files —
    // its retry rewrites the whole batch, and absorption would make the
    // retry a duplication the ADC filter turns into dropped vectors
    graft.streaming.Streams.replaceBatchFiles(spark,
      s"$ip/pq_codes.parquet", 7L) { staging =>
      Similarity.buildIvfpqIndex(day.limit(3), cents, cb)
        .write.parquet(staging)
    }
    val (_, after, live) = Similarity.compactIndex(spark, ip)
    assert(live === expect.size.toLong,
      "compaction keeps exactly the committed rows")
    assert(codeSet() === expect)
    assert(after <= 2L)
    // marker hygiene: compaction folded batch 0's marker into the
    // watermark (the _batches dir stays bounded across nightly appends),
    // and the folded id still replays as a no-op — answered by the
    // watermark now that its marker file is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${ip}_batches/0")),
      "compaction must GC the contiguous committed markers")
    assert(graft.streaming.Streams.committedWatermark(spark, ip) === 0L)
    assert(!Similarity.appendToIndexAt(spark, ip, day, 0L))
    assert(codeSet() === expect)
    // the batch then applies cleanly post-compaction
    assert(Similarity.appendToIndexAt(spark, ip,
      day.limit(3).withColumn("vec_id", col("vec_id") + 1000000L), 7L))
    assert(codeSet().size === expect.size + 3 * 8,
      "a committed batch after compaction lands beside the compacted files")
  }

  test("append dedup never trusts uncommitted sibling partials: a crashed batch's ids re-deliver through a later batch") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val day = e.filter(col("vec_id") % 4 === 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_ann_sib").toString + "/idx"
    val cents = Similarity.centroids(corpus)
    val cb = Similarity.pqCodebooks(corpus)
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(corpus, cents, cb))
    Similarity.recordDriftBaseline(spark, ip, corpus, cb, Some(cents))
    // batch 5 crashed AFTER its code files moved in but BEFORE its marker:
    // its rows are physically present yet the batch never committed
    graft.streaming.Streams.replaceBatchFiles(spark,
      s"$ip/pq_codes.parquet", 5L) { staging =>
      Similarity.buildIvfpqIndex(day, cents, cb).write.parquet(staging)
    }
    // batch 6 legitimately delivers the same vectors. If the dedup
    // anti-join trusted the crashed batch's partial rows it would skip
    // these ids — and the next compaction (which sweeps uncommitted
    // partials) would then erase them from the index for good.
    assert(Similarity.appendToIndexAt(spark, ip, day, 6L))
    def codeSet(): Set[(Long, Int)] =
      codesAt(ip).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"))).toSet
    val expect = Similarity.buildIvfpqIndex(e, cents, cb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"))).toSet
    assert(codeSet() === expect,
      "batch 6's delivery must own the ids the crashed batch never committed")
    val (_, _, live) = Similarity.compactIndex(spark, ip)
    assert(live === expect.size.toLong,
      "compaction keeps every live (vec_id, sub) code row")
    assert(codeSet() === expect)
  }

  test("bare recordDrift replays dedup at read time: one decision row per batch") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val ip = java.nio.file.Files.createTempDirectory("graft_ann_dr").toString + "/idx"
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(e, cents, cb))
    Similarity.recordDriftBaseline(spark, ip, e, cb, Some(cents))
    // a nightly job retried after a crash past recordDrift double-appends
    // the same content-derived row — the at-least-once window the bare
    // convenience form documents
    val shifted = e.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x * org.apache.spark.sql.functions.lit(3.0f)))
    Similarity.recordDrift(spark, ip, shifted, cb, 0L, Some(cents))
    Similarity.recordDrift(spark, ip, shifted, cb, 0L, Some(cents))
    val rep = Similarity.driftReport(spark, ip).collect()
    assert(rep.length === 1, "duplicate batch rows must fold to one decision row")
    assert(rep.head.getAs[Long]("batch_id") === 0L)
    assert(rep.head.getAs[Boolean]("drifted"))
    // the duplicated drifted batch must count ONCE toward the
    // minTripped-of-lastK retrain decision, not trip it alone
    assert(!Similarity.maybeRetrain(spark, ip, corpus = e,
      lastK = 3, minTripped = 2),
      "one noisy batch recorded twice must not fire a corpus-scale retrain")
    // describeIndex's batch count dedups the same way
    val d = Similarity.describeIndex(spark, ip).head
    assert(d.getAs[Long]("drift_batches") === 1L)
  }

  test("model drift monitor: in-distribution appends hold the band, a shifted batch trips") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val path = java.nio.file.Files.createTempDirectory("graft_drift").toString
    // corpus build on 3/4 of the vectors — the frozen model
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val cb = Similarity.pqCodebooks(corpus)
    Similarity.recordDriftBaseline(spark, path, corpus, cb)
    // nightly batch 0: the HELD-OUT quarter — same distribution the model
    // trained on, so its reconstruction error must sit inside the band
    val day = e.filter(col("vec_id") % 4 === 0)
    Similarity.recordDrift(spark, path, day, cb, 0L)
    // nightly batch 1: the same vectors after a distribution shift the
    // frozen codebooks never saw (components scaled 3× — quantization
    // error scales ~9×, far past any band)
    Similarity.recordDrift(spark, path,
      day.withColumn("embedding", transform(col("embedding"), x => x * lit(3.0f))),
      cb, 1L)
    val rep = Similarity.driftReport(spark, path).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Double]("err_ratio"), r.getAs[Boolean]("drifted"),
          r.getAs[Double]("share_ratio"))).toMap
    assert(rep.keySet === Set(0L, 1L))
    val (inRatio, inDrifted, inShare) = rep(0L)
    assert(!inDrifted && inRatio < 1.25,
      s"held-out in-distribution batch must stay in the band: ratio=$inRatio")
    assert(inRatio > 0.5, s"sanity: held-out error comparable to build: $inRatio")
    assert(inShare.isNaN,
      "rows recorded without a coarse quantizer judge on error alone")
    val (shiftRatio, shiftDrifted, _) = rep(1L)
    assert(shiftDrifted && shiftRatio > 2.0,
      s"shifted batch must trip the monitor: ratio=$shiftRatio")
    // the gate form agrees end-to-end (persisted-index path, fresh table
    // per call — idempotent under bench best-of-N) and adds the
    // occupancy signal: the 3×-scaled twin is cosine-INVARIANT (same
    // cell assignments — only the error signal can catch it) while the
    // translated twin concentrates cell occupancy
    val gate1 = Similarity.annDriftReport(spark, sf).collect()
    val gate2 = Similarity.annDriftReport(spark, sf).collect()
    assert(gate1.length === 3 && gate2.length === 3,
      "each call rewrites the table from its baseline")
    val g = gate1.map(r => r.getAs[Long]("batch_id") ->
      (r.getAs[Boolean]("drifted"), r.getAs[Double]("share_ratio"))).toMap
    assert(!g(0L)._1 && g(1L)._1 && g(2L)._1,
      s"gate form: corpus quarter clean, both shifted twins tripped — got $g")
    assert(math.abs(g(1L)._2 - g(0L)._2) < 1e-9,
      s"scaling is cosine-invariant: same cells, same share as the clean " +
        s"batch — got ${g(1L)._2} vs ${g(0L)._2}")
    assert(g(2L)._2 > 2.0,
      s"the translated twin must concentrate occupancy: ${g(2L)._2}")
  }

  test("composed-OPQ index lifecycle: raw-space appends rotate, drift tracks, retrain keeps the tier composed") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.1" // 2000 vectors — the largest corpus
    val e = spark.read.parquet(s"$sf01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val past = e.filter(col("vec_id") % 4 =!= 1)
    val ip = java.nio.file.Files.createTempDirectory("graft_opq_idx").toString + "/idx"
    // corpus build: rotation + rotated-space coarse quantizer, codebooks
    // and codes persist as ONE artifact at one path. The train cap is
    // forced BELOW the corpus size to reproduce production geometry: at
    // scale, N >> OpqTrainCap makes the build-corpus baseline mostly
    // held-out, so an in-distribution arrival sits at ratio ≈ 1; at toy
    // scale an uncapped build fits the whole corpus and the
    // in-sample-vs-held-out generalization gap alone reads as ~1.3×
    // "drift" — a geometry artifact, not a monitor property
    val (rot, cb) = Similarity.trainOpqOn(spark, past, trainCap = 512L)
    val r = rot.select(col("comp"), col("weights")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val rotPast = Similarity.rotateFrame(past, r)
    val cents = Similarity.centroids(rotPast)
    Similarity.saveIndex(ip, AnnSpec.OpqIvfpq, AnnModel(Some(rot), Some(cents),
      Some(cb), Some(Similarity.buildIvfpqIndex(rotPast, cents, cb))))
    // the baseline takes the RAW window: recordDriftBaseline reads the
    // rotation from the artifact itself, the same detection the append
    // path uses — baseline and batch rows measure in one space by
    // construction
    Similarity.recordDriftBaseline(spark, ip, past, cb, Some(cents))
    // the nightly batch arrives in RAW space — the append path detects
    // the rotation artifact and encodes rotated, so after the append the
    // codes table is EXACTLY a rotated-space rebuild over the full corpus
    val day = e.filter(col("vec_id") % 4 === 1)
    assert(Similarity.appendToIndexAt(spark, ip, day, 0L))
    val AnnModel(Some(rotL), Some(centsL), Some(cbL), Some(codesL)) =
      Similarity.openIndex(spark, ip)._2
    def codeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Int)] =
      df.collect().map(row => (row.getAs[Long]("vec_id"), row.getAs[Int]("sub"),
        row.getAs[Int]("code"), row.getAs[Int]("ivf_cell"))).toSet
    assert(codeSet(codesL) ===
      codeSet(Similarity.buildIvfpqIndex(Similarity.rotateFrame(e, r), cents, cb)),
      "raw-space append ≡ rotated-space rebuild under the same models")
    // the in-distribution batch's drift row (computed in rotated space)
    // sits in the band
    val rep0 = Similarity.driftReport(spark, ip).collect()
    assert(rep0.length === 1 && !rep0.head.getAs[Boolean]("drifted"),
      s"in-distribution raw-space append must record in-band: " +
        s"${rep0.head.getAs[Double]("err_ratio")}")
    // steady-state serving straight from the disk artifact ≡ the
    // model-fed inline form
    val queries = e.limit(5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Similarity.topk(spark, sf01, AnnSpec.OpqIvfpq,
      AnnModel(Some(rotL), Some(centsL), Some(cbL), Some(codesL)), Some(queries))
      .collect().map(_.toString).sorted.toSeq
    val inline = Similarity.topk(spark, sf01, AnnSpec.OpqIvfpq,
      AnnModel(Some(rot), Some(cents), Some(cb)), Some(queries))
      .collect().map(_.toString).sorted.toSeq
    assert(served === inline,
      "serving from the loaded artifact must equal the inline-encode form")
    // the world moves: two shifted batches trip, the retrain fires, and
    // the index COMES BACK COMPOSED — new rotation, new rotated-space
    // models, the shifted world in-band
    val shifted = e.withColumn("vec_id", col("vec_id") + 10000000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(3.0f)))
    assert(Similarity.appendToIndexAt(spark, ip,
      shifted.filter(col("vec_id") % 4 === 1), 1L))
    assert(Similarity.appendToIndexAt(spark, ip,
      shifted.filter(col("vec_id") % 4 === 3), 2L))
    assert(Similarity.maybeRetrain(spark, ip,
      corpus = e.unionByName(shifted), trainOn = Some(shifted)))
    val AnnModel(Some(rotN), Some(centsN), Some(cbN), Some(codesN)) =
      Similarity.openIndex(spark, ip)._2
    val rN = rotN.select(col("comp"), col("weights")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    assert(rN.flatten.toSeq !== r.flatten.toSeq,
      "retrain must refit the rotation to the new window")
    assert(codeSet(codesN) === codeSet(Similarity.buildIvfpqIndex(
      Similarity.rotateFrame(e.unionByName(shifted), rN), centsN, cbN)),
      "post-retrain codes ≡ rebuild in the NEW rotated space")
    val fresh = shifted.filter(col("vec_id") % 4 === 1)
      .withColumn("vec_id", col("vec_id") + 10000000L)
    assert(Similarity.appendToIndexAt(spark, ip, fresh, 3L))
    val repN = Similarity.driftReport(spark, ip).collect()
    assert(repN.map(_.getAs[Long]("batch_id")).toSeq === Seq(3L))
    assert(!repN.head.getAs[Boolean]("drifted"),
      s"the shifted world must be in-band under the refit rotation: " +
        s"${repN.head.getAs[Double]("err_ratio")}")
  }

  test("index encoding is a property of the artifact: residual appends auto-detect, a raw rebuild demotes") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_enc_idx").toString + "/idx"
    val cents = Similarity.centroids(corpus)
    val rcb = Similarity.pqCodebooks(Similarity.residualVectors(corpus, cents)
      .select(col("vec_id"), col("embedding")))
    saveIvfpq(ip, cents, rcb,
      Similarity.buildIvfpqIndex(corpus, cents, rcb, residual = true),
      AnnSpec.IvfpqResidual)
    def codeSet(): Set[(Long, Int, Int, Int)] =
      codesAt(ip).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    def expect(cb: org.apache.spark.sql.DataFrame, residual: Boolean) =
      Similarity.buildIvfpqIndex(e, cents, cb, residual).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    // the nightly append carries NO encoding flag — it reads the
    // artifact's _ann_spec stamp; with a caller-repeated boolean the
    // default (raw) would have silently poisoned the residual codes table
    val day = e.filter(col("vec_id") % 4 === 0)
    assert(Similarity.appendToIndexAt(spark, ip, day, 0L))
    assert(codeSet() === expect(rcb, residual = true),
      "append must auto-detect the RESIDUAL encoding from the artifact")
    val d0 = Similarity.describeIndex(spark, ip).collect().head
    assert(d0.getAs[String]("encoding") === "residual")
    assert(d0.getAs[String]("kind") === "raw")
    // a raw rebuild over the same path DEMOTES the encoding (the new
    // stamp replaces the old one)
    val cb = Similarity.pqCodebooks(corpus)
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(corpus, cents, cb))
    assert(Similarity.describeIndex(spark, ip).collect().head
      .getAs[String]("encoding") === "raw")
    assert(Similarity.appendToIndexAt(spark, ip, day, 1L))
    assert(codeSet() === expect(cb, residual = false),
      "post-demotion appends must encode raw")
  }

  test("index artifact: openIndex ≡ the fed model bit for bit for every persisted shape; no stamp, no index") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    Seq(AnnSpec.Pq, AnnSpec.Opq, AnnSpec.Ivfpq, AnnSpec.IvfpqResidual,
        AnnSpec.OpqIvfpq, AnnSpec.OpqIvfpqResidual).foreach { spec =>
      val m = Similarity.train(spark, sf, spec)
      val enc = m.transform.fold(e)(r =>
        Similarity.rotateFrame(e, Similarity.rotationLiteral(r)))
      // flat shapes persist models only; IVF shapes their codes too
      val fed = spec.nprobe.fold(m)(_ => m.copy(codes = Some(
        Similarity.buildIvfpqIndex(enc, m.centroids.get, m.codebooks.get,
          residual = spec.code == AnnCode.ResidualPq))))
      val path = java.nio.file.Files.createTempDirectory("graft_shape").toString
      Similarity.saveIndex(path, spec, fed)
      val (stamped, opened) = Similarity.openIndex(spark, path)
      assert(stamped === spec)
      Seq[AnnModel => Option[DataFrame]](_.transform, _.centroids, _.codebooks,
        _.codes).foreach { part =>
        assert(part(opened).map(rows) === part(fed).map(rows), spec)
      }
      assert(topk(Similarity.topk(spark, sf, spec, opened))
        === topk(Similarity.topk(spark, sf, spec, fed)), spec)
    }
    // saveIndex's crash window: every part written, the stamp not yet —
    // the path is refused by name, never served as a guessed shape
    val path = java.nio.file.Files.createTempDirectory("graft_nostamp").toString
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebooks(e)
    saveIvfpq(path, cents, cb, Similarity.buildIvfpqIndex(e, cents, cb))
    assert(new java.io.File(s"$path/_ann_spec").delete())
    val err = intercept[IllegalArgumentException](Similarity.openIndex(spark, path))
    assert(err.getMessage.contains(path))
  }

  test("a raw saveIndex over an OPQ residual index serves, appends and describes as raw") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_demote").toString + "/idx"
    val m = Similarity.train(spark, sf, AnnSpec.OpqIvfpqResidual)
    Similarity.saveIndex(ip, AnnSpec.OpqIvfpqResidual, m.copy(codes = Some(
      Similarity.buildIvfpqIndex(Similarity.rotateFrame(corpus,
        Similarity.rotationLiteral(m.transform.get)), m.centroids.get,
        m.codebooks.get, residual = true))))
    val d0 = Similarity.describeIndex(spark, ip).collect().head
    assert(d0.getAs[String]("kind") === "opq")
    assert(d0.getAs[String]("encoding") === "residual")
    val cents = Similarity.centroids(corpus)
    val cb = Similarity.pqCodebooks(corpus)
    val codes = Similarity.buildIvfpqIndex(corpus, cents, cb)
    saveIvfpq(ip, cents, cb, codes)
    // the previous build's rotation is still on disk: the stamp alone
    // decides what the index is
    assert(new java.io.File(s"$ip/opq_rotation.parquet").exists())
    val d = Similarity.describeIndex(spark, ip).collect().head
    assert(d.getAs[String]("kind") === "raw")
    assert(d.getAs[String]("encoding") === "raw")
    val (spec, opened) = Similarity.openIndex(spark, ip)
    assert(spec === AnnSpec.Ivfpq && opened.transform.isEmpty)
    assert(topk(Similarity.topk(spark, sf, spec, opened)) === topk(Similarity.topk(
      spark, sf, AnnSpec.Ivfpq, AnnModel(None, Some(cents), Some(cb), Some(codes)))))
    def codeSet(df: DataFrame): Set[(Long, Int, Int, Int)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    assert(Similarity.appendToIndexAt(spark, ip, e.filter(col("vec_id") % 4 === 0), 0L))
    assert(codeSet(codesAt(ip)) === codeSet(Similarity.buildIvfpqIndex(e, cents, cb)),
      "post-demotion appends must encode raw, unrotated")
  }

  test("composed-residual index: appends auto-detect rotation AND residual, retrain preserves both") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_opqres_idx").toString + "/idx"
    val (rot, _) = Similarity.trainOpqOn(spark, corpus)
    val r = rot.select(col("comp"), col("weights")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val rotC = Similarity.rotateFrame(corpus, r)
    val cents = Similarity.centroids(rotC)
    val rcb = Similarity.pqCodebooks(Similarity.residualVectors(rotC, cents)
      .select(col("vec_id"), col("embedding")))
    Similarity.saveIndex(ip, AnnSpec.OpqIvfpqResidual, AnnModel(Some(rot),
      Some(cents), Some(rcb),
      Some(Similarity.buildIvfpqIndex(rotC, cents, rcb, residual = true))))
    // baseline over the RAW corpus: rotation AND residual encoding are
    // read from the artifact, so the baseline measures rotated RESIDUAL
    // reconstruction — the quantity these codebooks minimize
    Similarity.recordDriftBaseline(spark, ip, corpus, rcb, Some(cents))
    def codeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Int)] =
      df.collect().map(row => (row.getAs[Long]("vec_id"), row.getAs[Int]("sub"),
        row.getAs[Int]("code"), row.getAs[Int]("ivf_cell"))).toSet
    // the raw-space nightly batch must rotate AND residual-encode — both
    // properties read from the artifact, no caller flags anywhere
    val day = e.filter(col("vec_id") % 4 === 0)
    assert(Similarity.appendToIndexAt(spark, ip, day, 0L))
    // the baseline and the batch's drift row both measure rotated
    // RESIDUAL reconstruction — pin the space directly: the recorded
    // baseline equals a manual residual-space recomputation (raw-vector
    // error against these residual codebooks is a different quantity
    // entirely), and the held-out batch sits near 1. The band is the
    // toy-scale one: an uncapped codebook fit makes the in-sample
    // baseline ~1.26× better than ANY held-out arrival (the
    // generalization-gap geometry the OPQ drift spec documents); at
    // production N >> train cap the baseline is mostly held-out too.
    val baseRec = spark.read.parquet(s"$ip/drift.parquet")
      .filter(col("batch_id") === -1L).collect().head
    val manual = Similarity.quantizationError(
      Similarity.residualVectors(Similarity.rotateFrame(corpus, r), cents)
        .select(col("vec_id"), col("embedding")), rcb) / corpus.count()
    assert(math.abs(baseRec.getAs[Double]("mean_err") - manual)
      <= 1e-9 * math.max(1.0, manual),
      s"baseline must measure rotated-residual space: recorded " +
        s"${baseRec.getAs[Double]("mean_err")} vs manual $manual")
    val dr = Similarity.driftReport(spark, ip, tripRatio = 1.6).collect()
    assert(dr.length === 1 && !dr.head.getAs[Boolean]("drifted"),
      s"in-distribution batch must record in-band on the residual index: " +
        s"err_ratio=${dr.head.getAs[Double]("err_ratio")}")
    assert(dr.head.getAs[Double]("err_ratio") < 1.5
      && dr.head.getAs[Double]("err_ratio") > 0.7)
    assert(codeSet(codesAt(ip)) === codeSet(
      Similarity.buildIvfpqIndex(Similarity.rotateFrame(e, r), cents, rcb,
        residual = true)),
      "append ≡ rotated residual-encoded rebuild under the same models")
    val d = Similarity.describeIndex(spark, ip).collect().head
    assert(d.getAs[String]("kind") === "opq")
    assert(d.getAs[String]("encoding") === "residual")
    // retrain keeps the tier composed-residual: new rotation, new
    // rotated-space coarse quantizer, codebooks refit on the NEW rotated
    // residuals, codes ≡ a fresh composed-residual build
    Similarity.retrainIndex(spark, ip, e)
    val d2 = Similarity.describeIndex(spark, ip).collect().head
    assert(d2.getAs[String]("kind") === "opq")
    assert(d2.getAs[String]("encoding") === "residual")
    val AnnModel(Some(rotN), Some(centsN), Some(cbN), Some(codesN)) =
      Similarity.openIndex(spark, ip)._2
    val rN = rotN.select(col("comp"), col("weights")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    assert(codeSet(codesN) === codeSet(Similarity.buildIvfpqIndex(
      Similarity.rotateFrame(e, rN), centsN, cbN, residual = true)),
      "post-retrain codes ≡ fresh composed-residual build in the new space")
  }

  test("retrain is staged: the live index is never a mixed generation, crash windows recover") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val past = e.filter(col("vec_id") % 2 === 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_retrain_stg").toString + "/idx"
    val fs = new org.apache.hadoop.fs.Path(ip)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingP = new org.apache.hadoop.fs.Path(s"${ip}_retrain_staging")
    val oldP = new org.apache.hadoop.fs.Path(s"${ip}_retrain_old")
    val cents0 = Similarity.centroids(past)
    val cb0 = Similarity.pqCodebooks(past)
    saveIvfpq(ip, cents0, cb0,
      Similarity.buildIvfpqIndex(past, cents0, cb0))
    Similarity.recordDriftBaseline(spark, ip, past, cb0, Some(cents0))
    // a stale staging dir from a crashed earlier retrain must neither
    // corrupt the rebuild nor survive it
    Seq((1L, "junk")).toDF("vec_id", "junk")
      .write.parquet(s"${ip}_retrain_staging/garbage.parquet")
    Similarity.retrainIndex(spark, ip, e)
    def codeSet(): Set[(Long, Int, Int, Int)] =
      codesAt(ip).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
          r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    val centsN = Similarity.centroids(e)
    val cbN = Similarity.pqCodebooks(e)
    val expect = Similarity.buildIvfpqIndex(e, centsN, cbN).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    assert(codeSet() === expect, "retrained index ≡ fresh build")
    assert(!fs.exists(stagingP) && !fs.exists(oldP),
      "a completed retrain leaves no staging or parked dirs")
    // the WORST crash window: between the two promote renames the live
    // path is missing and the old generation is parked — a rerun must
    // restore it first, then rebuild and promote cleanly (training is
    // deterministic, so the recovered rebuild reproduces the same index)
    require(fs.rename(new org.apache.hadoop.fs.Path(ip), oldP))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(ip)))
    Similarity.retrainIndex(spark, ip, e)
    assert(codeSet() === expect,
      "rerun after a mid-promote crash must recover to the same index")
    assert(!fs.exists(stagingP) && !fs.exists(oldP))
  }

  test("describeIndex: the one-row ops inventory tracks the lifecycle") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_describe").toString + "/idx"
    val cents = Similarity.centroids(corpus)
    val cb = Similarity.pqCodebooks(corpus)
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(corpus, cents, cb))
    Similarity.recordDriftBaseline(spark, ip, corpus, cb, Some(cents))
    val nCorpus = corpus.count()
    val day = e.filter(col("vec_id") % 4 === 0)
    assert(Similarity.appendToIndexAt(spark, ip, day, 0L))
    Similarity.removeFromIndex(spark, ip, corpus.limit(5).select(col("vec_id")))
    val d = Similarity.describeIndex(spark, ip).collect().head
    assert(d.getAs[String]("kind") === "raw")
    assert(d.getAs[String]("encoding") === "raw")
    assert(d.getAs[Long]("live_vectors") === nCorpus + day.count() - 5)
    assert(d.getAs[Long]("tombstoned") === 5L)
    assert(!d.getAs[Boolean]("has_int8"))
    assert(d.getAs[Long]("batch_watermark") === -1L)
    assert(d.getAs[Long]("open_markers") === 1L)
    assert(d.getAs[Long]("drift_batches") === 1L)
    assert(d.getAs[Long]("last_batch_id") === 0L)
    assert(!d.getAs[Boolean]("last_drifted"))
    // maintenance folds tombstones and markers — the inventory follows
    Similarity.compactIndex(spark, ip)
    val d2 = Similarity.describeIndex(spark, ip).collect().head
    assert(d2.getAs[Long]("live_vectors") === nCorpus + day.count() - 5)
    assert(d2.getAs[Long]("tombstoned") === 0L)
    assert(d2.getAs[Long]("batch_watermark") === 0L)
    assert(d2.getAs[Long]("open_markers") === 0L)
    assert(d2.getAs[Long]("code_files") <= 2L)
  }

  test("drift-triggered retrain: accumulated trips fire the rebuild, the new world lands in-band") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val ip = java.nio.file.Files.createTempDirectory("graft_retrain").toString + "/idx"
    val past = e.filter(col("vec_id") % 2 === 0)
    val cents0 = Similarity.centroids(past)
    val cb0 = Similarity.pqCodebooks(past)
    saveIvfpq(ip, cents0, cb0,
      Similarity.buildIvfpqIndex(past, cents0, cb0))
    Similarity.recordDriftBaseline(spark, ip, past, cb0, Some(cents0))
    // one clean nightly batch (new ids — an arrival, not a re-add):
    // maybeRetrain must DECLINE (and a declined decision must not touch
    // the models)
    val clean = e.filter(col("vec_id") % 4 === 1)
      .withColumn("vec_id", col("vec_id") + 20000000L)
    assert(Similarity.appendToIndexAt(spark, ip, clean, 0L))
    assert(!Similarity.maybeRetrain(spark, ip, corpus = past),
      "an in-band time series must not fire a retrain")
    val centsBefore = spark.read.parquet(s"$ip/ivf_centroids.parquet")
      .collect().map(_.toString).sorted.toSeq
    // the world moves: two consecutive batches from a 3×-scaled
    // distribution — each trips the error signal
    val shifted = e.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(3.0f)))
    assert(Similarity.appendToIndexAt(spark, ip,
      shifted.filter(col("vec_id") % 4 === 1), 1L))
    assert(Similarity.appendToIndexAt(spark, ip,
      shifted.filter(col("vec_id") % 4 === 3), 2L))
    assert(spark.read.parquet(s"$ip/ivf_centroids.parquet")
      .collect().map(_.toString).sorted.toSeq === centsBefore,
      "the declined decision left the frozen models untouched")
    val trips = Similarity.driftReport(spark, ip)
      .filter(col("drifted")).count()
    assert(trips === 2L, s"both shifted batches must trip: $trips")
    // 2 of the last 3 tripped → the retrain fires: models on the arrival
    // window, codes over everything the index serves (the build corpus
    // plus every appended batch — clean and shifted alike)
    val corpus = past.unionByName(clean).unionByName(shifted)
    assert(Similarity.maybeRetrain(spark, ip, corpus = corpus,
      trainOn = Some(shifted)))
    // the rebuild re-encoded the FULL corpus against the new models —
    // codes are exactly a fresh build's (content equality, the
    // append ≡ rebuild discipline carried through retrain)
    val AnnModel(_, Some(centsN), Some(cbN), Some(codesN)) =
      Similarity.openIndex(spark, ip)._2
    val expect = Similarity.buildIvfpqIndex(corpus, centsN, cbN).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"),
        r.getAs[Int]("code"), r.getAs[Int]("ivf_cell"))).toSet
    assert(codesN.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Int]("sub"), r.getAs[Int]("code"),
      r.getAs[Int]("ivf_cell"))).toSet === expect)
    // epoch fence: pre-retrain batch ids never re-apply (their content is
    // the corpus's to carry), new ids land above the fence
    assert(graft.streaming.Streams.committedWatermark(spark, ip) === 2L)
    assert(!Similarity.appendToIndexAt(spark, ip, clean, 1L),
      "a pre-retrain batch id must be fenced out")
    // the drift series restarted from the new model's baseline: a fresh
    // batch from the SHIFTED world now records in-band, and the next
    // decision declines
    val fresh = shifted.filter(col("vec_id") % 4 === 1)
      .withColumn("vec_id", col("vec_id") + 10000000L)
    assert(Similarity.appendToIndexAt(spark, ip, fresh, 3L))
    val rep = Similarity.driftReport(spark, ip).collect()
    assert(rep.map(_.getAs[Long]("batch_id")).toSeq === Seq(3L),
      "retrain restamps the time series (old epoch's rows retired)")
    assert(!rep.head.getAs[Boolean]("drifted"),
      s"the new world must be in-band post-retrain: " +
        s"ratio=${rep.head.getAs[Double]("err_ratio")}")
    assert(!Similarity.maybeRetrain(spark, ip, corpus = corpus,
      trainOn = Some(shifted), lastK = 1, minTripped = 1))
    // the gate form pins the same story end-to-end and is idempotent
    // under bench best-of-N
    val g1 = Similarity.annRetrainReport(spark, sf).collect()
    val g2 = Similarity.annRetrainReport(spark, sf).collect()
    assert(g1.map(_.toString).toSeq === g2.map(_.toString).toSeq)
    val byPhase = g1.map(r => r.getAs[String]("phase") ->
      (r.getAs[Long]("batches"), r.getAs[Long]("drifted"),
        r.getAs[Boolean]("retrain_fired"))).toMap
    assert(byPhase("before_retrain") === ((2L, 2L, true)),
      s"gate form before-phase: ${byPhase("before_retrain")}")
    assert(byPhase("after_retrain") === ((1L, 0L, false)),
      s"gate form after-phase: ${byPhase("after_retrain")}")
  }

  test("append hygiene: re-ingested live ids never duplicate code rows, empty batches commit as no-ops, a rebuild clean-slates replay state") {
    import org.apache.spark.sql.functions.{col, lit}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 4 =!= 0)
    val ip = java.nio.file.Files.createTempDirectory("graft_readd_idx").toString + "/idx"
    val cents = Similarity.centroids(corpus)
    val cb = Similarity.pqCodebooks(corpus)
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(corpus, cents, cb))
    Similarity.saveInt8Codes(ip, Similarity.quantizeVectors(corpus))
    Similarity.recordDriftBaseline(spark, ip, corpus, cb, Some(cents))
    // batch 0 half overlaps the live corpus: the overlapping ids must NOT
    // write a second copy of their code rows (the ADC n_subs = m
    // completeness filter would silently drop them from every shortlist)
    val overlap = corpus.filter(col("vec_id") < 40)
    val fresh = e.filter(col("vec_id") % 4 === 0 && col("vec_id") < 80)
    assert(Similarity.appendToIndexAt(spark, ip,
      overlap.unionByName(fresh), 0L))
    // the int8 sibling artifact stays current through the SAME append —
    // its ids track the codes table exactly (stale int8 would silently
    // serve the pre-append corpus on the int8 tiers)
    assert(Similarity.loadInt8Codes(spark, ip).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
      === codesAt(ip).select(col("vec_id"))
        .distinct().collect().map(_.getLong(0)).toSet,
      "int8 artifact must cover the same ids as the codes table")
    val codes = codesAt(ip)
    val dupCount = codes.groupBy(col("vec_id"), col("sub"))
      .count().filter(col("count") > 1).count()
    assert(dupCount === 0L, s"$dupCount duplicated (vec_id, sub) rows")
    // …and the overlapping vectors still SERVE: every live id clears the
    // completeness filter
    val nLive = codes.select(col("vec_id")).distinct().count()
    val complete = codes.groupBy(col("vec_id")).count()
      .filter(col("count") === Similarity.PqM.toLong).count()
    assert(complete === nLive, "every live vector must keep exactly m rows")
    // the drift row covered the WHOLE batch (monitoring sees all arrivals)
    val drift0 = Similarity.driftReport(spark, ip).collect()
    assert(drift0.length === 1
      && drift0.head.getAs[Long]("n_vecs") ===
        overlap.unionByName(fresh).count())
    // an EMPTY batch commits as a no-op: marker created (no replay churn),
    // no crash, no files, no drift row
    val before = codes.collect().map(_.toString).toSet
    assert(Similarity.appendToIndexAt(spark, ip, e.filter(lit(false)), 1L))
    assert(!Similarity.appendToIndexAt(spark, ip, e.filter(lit(false)), 1L),
      "the empty batch's marker must make its replay skip")
    assert(codesAt(ip).collect()
      .map(_.toString).toSet === before)
    assert(Similarity.driftReport(spark, ip).count() === 1L)
    // compaction bounds the DRIFT table's file growth too
    Similarity.compactIndex(spark, ip)
    val driftFiles = new java.io.File(s"$ip/drift.parquet").listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(driftFiles <= 2, s"drift table left $driftFiles files")
    assert(Similarity.driftReport(spark, ip).count() === 1L,
      "drift rows must survive compaction")
    // a REBUILD clean-slates the replay-protocol state along with the
    // tombstones: batch ids restart at 0 under a fresh checkpoint, and a
    // stale watermark would silently fence their vectors out
    saveIvfpq(ip, cents, cb,
      Similarity.buildIvfpqIndex(corpus, cents, cb))
    assert(!new java.io.File(s"${ip}_batches").exists(),
      "rebuild must clear markers + watermark")
    assert(Similarity.appendToIndexAt(spark, ip, fresh, 0L),
      "post-rebuild batch 0 must apply, not read as already committed")
  }

  test("every declared ANN spec: probe batch ≡ explicit batch, inline ≡ fed ≡ indexed, lit(true) ≡ no filter") {
    import org.apache.spark.sql.functions.{col, lit}
    val probe = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val sources = Seq(AnnSource.Inline, AnnSource.Fed, AnnSource.Indexed)
    val crossChecked = scala.collection.mutable.Set[AnnSpec]()
    for ((name, spec, source) <- Similarity.annQueries) {
      val model = Similarity.modelFor(spark, sf, spec, source)
      val declared = topk(Similarity.topk(spark, sf, spec, model))
      // the corpus form IS the serving form fed the same batch: same
      // tables, probes, chunks, rerank
      assert(topk(Similarity.topk(spark, sf, spec, model, Some(probe)))
        === declared, s"$name: probe batch vs the same batch passed explicitly")
      // PQ shapes persist: every model source serves the same answer
      // (training is deterministic and the artifacts round-trip exactly)
      if ((spec.code == AnnCode.Pq || spec.code == AnnCode.ResidualPq) &&
          crossChecked.add(spec))
        for (other <- sources if other != source)
          assert(topk(Similarity.topk(spark, sf, spec,
            Similarity.modelFor(spark, sf, spec, other))) === declared,
            s"$name: $source vs $other")
      // the trivial pre-filter is the identity, inline or fed
      if (spec.filter.isEmpty)
        assert(topk(Similarity.topk(spark, sf, spec.filtered(lit(true)), model))
          === declared, s"$name: lit(true) filter vs unfiltered")
    }
  }
}
