package graft

import org.apache.spark.sql.functions._
import graft.ops.Profile

class ProfileSpec extends SparkSpec {

  test("describe profiles every requested column in one pass") {
    val out = Profile.profileDocuments(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("doc_id", "lang", "source", "n_chars"))
    assert(out("doc_id").getAs[Long]("n_nulls") === 0L)
    assert(out("doc_id").getAs[Long]("n_distinct") === 500L)
    assert(out("lang").getAs[Long]("n_distinct") === 5L)
  }

  test("stratified sample hits the target rates and is rerun-deterministic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = Profile.sampleDocuments(spark, sf).collect().map(_.getLong(0)).toSeq
    val s2 = Profile.sampleDocuments(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(s1 === s2, "hash sampling must select identical rows on rerun")
    val sampled = Profile.sampleDocuments(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = sampled("en").toDouble / strata("en")
    assert(enRate > 0.35 && enRate < 0.65, s"en rate $enRate should target 0.5")
    Seq("fr", "es", "de", "zh").foreach { l =>
      val rate = sampled.getOrElse(l, 0L).toDouble / strata(l)
      assert(rate < 0.45, s"$l rate $rate should target 0.2")
    }
  }

  test("source sketches: estimates track exact distincts; union never rescans") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val est = Profile.sourceSketchRollup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    val exact = docs.select(col("source"), md5(col("text")).as("h"))
      .groupBy("source").agg(countDistinct(col("h")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = docs.select(md5(col("text"))).distinct().count()
    // lgK=12 HLL: relative standard error ~1.6%; allow 3σ
    exact.foreach { case (src, d) =>
      assert(math.abs(est(src) - d) <= math.max(2.0, 0.05 * d),
        s"$src: est ${est(src)} vs exact $d")
    }
    assert(math.abs(est("__ALL__") - exactAll) <= math.max(2.0, 0.05 * exactAll))
  }

  test("value sketches: quantile estimates sit inside the KLL rank envelope") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Profile.valueSketchRollup(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("p50"),
          r.getAs[Double]("p90"))).toMap
    def exactSorted(src: Option[String]): Array[Double] = {
      val d = src.fold(docs)(v => docs.filter(col("source") === v))
      d.select(col("n_chars").cast("double")).collect()
        .map(_.getDouble(0)).sorted
    }
    // KLL k=200 normalized rank error ≈ 1.65%; a ±10% rank band is a
    // generous, flake-proof envelope: the estimated pQ must equal SOME
    // order statistic between ranks Q-0.10 and Q+0.10
    def inBand(sorted: Array[Double], v: Double, q: Double): Boolean = {
      val lo = sorted(math.max(0, ((q - 0.10) * sorted.length).toInt))
      val hi = sorted(math.min(sorted.length - 1, ((q + 0.10) * sorted.length).toInt))
      v >= lo && v <= hi
    }
    val sources = got.keySet - "__ALL__"
    assert(sources.nonEmpty)
    sources.foreach { src =>
      val sorted = exactSorted(Some(src))
      val (n, p50, p90) = got(src)
      assert(n === sorted.length.toLong)
      assert(inBand(sorted, p50, 0.5), s"$src p50=$p50")
      assert(inBand(sorted, p90, 0.9), s"$src p90=$p90")
    }
    val all = exactSorted(None)
    assert(got("__ALL__")._1 === all.length.toLong)
    assert(inBand(all, got("__ALL__")._2, 0.5), s"__ALL__ p50")
    assert(inBand(all, got("__ALL__")._3, 0.9), s"__ALL__ p90")
  }

  test("value sketches merge: half-corpus sketches union to full-corpus estimates; no rescan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_kll").toString
    // two independent builds over disjoint halves, appended to one store —
    // the daily-increment shape: rollup must see the WHOLE corpus
    Profile.valueSketches(docs.filter(col("doc_id") % 2 === 0),
      "source", "n_chars").write.mode("append").parquet(path)
    Profile.valueSketches(docs.filter(col("doc_id") % 2 =!= 0),
      "source", "n_chars").write.mode("append").parquet(path)
    val rolled = Profile.valueSketchRollup(
      Profile.loadValueSketches(spark, path), "source").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"),
        r.getAs[Double]("p50"))).toMap
    assert(rolled("__ALL__")._1 === docs.count())
    val sorted = docs.select(col("n_chars").cast("double")).collect()
      .map(_.getDouble(0)).sorted
    val lo = sorted(((0.4) * sorted.length).toInt)
    val hi = sorted(math.min(sorted.length - 1, ((0.6) * sorted.length).toInt))
    assert(rolled("__ALL__")._2 >= lo && rolled("__ALL__")._2 <= hi,
      s"merged p50 ${rolled("__ALL__")._2} outside [$lo, $hi]")
    // no-rescan holds by construction here: the rollup's only input is
    // the loaded sketch frame (its collect reads the sketch parquet and
    // nothing else — valueSketchRollup never sees a source-table handle)

    // day-0 read: an empty sketch store rolls up to an empty report, it
    // does not throw on the empty union sketch
    val empty = Profile.valueSketchRollup(
      Profile.loadValueSketches(spark, path).filter(col("n_rows") < 0),
      "source")
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("source", "n_rows", "p50", "p90", "p99"))
  }

  test("sketch artifacts round-trip: rollup from loaded parquet ≡ inline") {
    val path = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Profile.saveSourceSketches(docs, path)
    val fromDisk = Profile.sourceSketchRollup(
      Profile.loadSourceSketches(spark, path)).collect().toSeq
    val inline = Profile.sourceSketchRollup(spark, sf).collect().toSeq
    assert(fromDisk == inline)
    // the union side of the rollup reads sketch bytes, not documents: its
    // plan over the loaded frame scans only the sketch parquet
    val plan = Profile.sourceSketchRollup(Profile.loadSourceSketches(spark, path))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(400))
  }

  test("value sketches: distributed merge is geometry-independent within the envelope") {
    // the r9 rework merges partials via a shuffle-by-group instead of a
    // driver collect; partial COUNT (hence merge fan-in) now depends on
    // the input partitioning, which must not move estimates outside the
    // KLL accuracy contract. n_rows is exact arithmetic → identical.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def rolled(parts: Int): Map[String, (Long, Double)] =
      Profile.valueSketchRollup(
        Profile.valueSketches(docs.repartition(parts), "source", "n_chars"),
        "source").collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"),
          r.getAs[Double]("p50"))).toMap
    val (narrow, wide) = (rolled(2), rolled(13))
    assert(narrow.keySet === wide.keySet)
    val sortedBySrc = docs.select(col("source"), col("n_chars").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    narrow.keySet.foreach { src =>
      assert(narrow(src)._1 === wide(src)._1, s"$src n_rows must be exact")
      if (src != "__ALL__") {
        val sorted = sortedBySrc(src)
        def inBand(v: Double): Boolean = {
          val lo = sorted(math.max(0, (0.4 * sorted.length).toInt))
          val hi = sorted(math.min(sorted.length - 1, (0.6 * sorted.length).toInt))
          v >= lo && v <= hi
        }
        assert(inBand(narrow(src)._2) && inBand(wide(src)._2),
          s"$src p50 at both geometries must sit in the rank band")
      }
    }
  }

  test("value sketches: high-cardinality group column builds distributed; rollup guards the collect") {
    // building a per-user sketch store is legitimate (the sketch frame is
    // distributed end to end — nothing driver-sized in the build path) …
    val events = spark.read.parquet(s"$sf/events.parquet")
    val perUser = Profile.valueSketches(events, "user_id", "value")
    val nUsers = events.filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id")).distinct().count()
    assert(perUser.count() === nUsers)
    // … but rolling ALL of it into one driver-side report must fail
    // loudly naming the guard, not OOM mid-collect
    val err = intercept[IllegalArgumentException] {
      Profile.valueSketchRollup(perUser, "user_id", maxGroups = 5)
    }
    assert(err.getMessage.contains("more than 5 groups"), err.getMessage)
    // a filtered audit subset under the bound rolls up fine
    val some = perUser.limit(4)
    assert(Profile.valueSketchRollup(some, "user_id", maxGroups = 5)
      .count() === 5) // 4 groups + __ALL__
  }

  test("distribution drift: same-distribution snapshots stable, a shifted one trips") {
    // gate form: 10 buckets, every PSI contribution non-negative by algebra
    val gate = Profile.distributionDrift(spark, sf).collect()
    assert(gate.length === 10)
    gate.foreach { r =>
      assert(r.getAs[Double]("contrib") >= 0.0)
      assert(!r.getAs[Double]("psi_total").isNaN)
    }
    // synthetic truth: identical value distributions across the parity
    // split → PSI ~ 0; the odd half shifted by +60 → PSI far above the
    // 0.25 "shifted" reading
    def probe(shift: Long) = spark.range(4000).select(
      col("id").as("doc_id"),
      (col("id") % 100 +
        when(col("id") % 2 === 1, shift).otherwise(0L)).as("v"))
    val stable = Profile.distributionDriftOf(spark, probe(0),
      col("doc_id") % 2 === 0, "v")
      .select("psi_total").head().getDouble(0)
    val shifted = Profile.distributionDriftOf(spark, probe(60),
      col("doc_id") % 2 === 0, "v")
      .select("psi_total").head().getDouble(0)
    assert(stable < 0.02, s"identical distributions must read stable: $stable")
    assert(shifted > 0.25, s"a +60 shift on a 0-99 range must trip: $shifted")
    assert(shifted > stable * 10)
  }

  test("psi baseline artifact: fed report is bit-identical to inline; artifact self-describes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_psi").toString
    Profile.savePsiBaseline(docs.filter(col("doc_id") % 2 === 0), path)
    val fed = Profile.psiAgainstBaseline(spark, path,
      docs.filter(col("doc_id") % 2 =!= 0)).collect()
    val inline = Profile.distributionDrift(spark, sf).collect()
    assert(fed.length === 10)
    // the artifact round-trip must not move a single bit of the report —
    // this is why the fed gate entry shares the inline entry's oracle
    fed.zip(inline).foreach { case (f, i) =>
      assert(f === i, s"fed row $f differs from inline row $i") }
    // self-description: the artifact names its value column and geometry,
    // so a monitor cannot bucket the wrong thing against it
    val meta = spark.read.parquet(s"$path/meta.parquet").head()
    assert(meta.getAs[String]("value_col") === "n_chars")
    assert(meta.getAs[Int]("buckets") === 10)
    // re-stamping over an existing baseline promotes atomically through
    // staging (the exportShards discipline): no staging dir survives and
    // the fed report is unchanged — readers never see mixed generations
    graft.ops.Profile.savePsiBaseline(docs.filter(col("doc_id") % 2 === 0), path)
    assert(!new java.io.File(path + ".staging").exists())
    assert(!new java.io.File(path + ".compacting").exists())
    val refed = Profile.psiAgainstBaseline(spark, path,
      docs.filter(col("doc_id") % 2 =!= 0)).collect()
    refed.zip(inline).foreach { case (f, i) => assert(f === i) }
  }

  test("categorical drift: stable mix reads stable, a shifted mix trips, new categories stay finite") {
    // gate form: one row per observed source, contributions non-negative
    val gate = Profile.categoricalDrift(spark, sf).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getAs[Double]("contrib") >= 0.0)
      assert(!r.getAs[Double]("psi_total").isNaN)
    }
    // synthetic truth: same category mix on both sides of the split →
    // PSI ~ 0; a heavily reweighted mix → above the 0.25 reading
    // category from id/2 so the parity split sees the same mix; the
    // shifted probe collapses the CURRENT side onto half the categories
    def probe(shift: Boolean) = spark.range(4000).select(
      col("id").as("rid"),
      concat(lit("c"),
        when(col("id") % 2 === 0, (col("id") / 2).cast("long") % 4)
          .otherwise((col("id") / 2).cast("long")
            % when(lit(shift), lit(2L)).otherwise(lit(4L)))).as("cat"))
    val stable = Profile.categoricalDriftOf(probe(shift = false),
      col("rid") % 2 === 0, "cat").select("psi_total").head().getDouble(0)
    val shifted = Profile.categoricalDriftOf(probe(shift = true),
      col("rid") % 2 === 0, "cat").select("psi_total").head().getDouble(0)
    assert(stable < 0.02, s"an identical mix must read stable: $stable")
    assert(shifted > 0.25, s"half the categories vanishing must trip: $shifted")
    // a category present on only ONE side gets a finite, nonzero
    // contribution (the Laplace smoothing's whole point)
    val oneSided = Profile.categoricalDriftOf(
      spark.range(100).select(col("id").as("rid"),
        when(col("id") % 2 === 0, lit("old")).otherwise(lit("new")).as("cat")),
      col("rid") % 2 === 0, "cat").collect()
    assert(oneSided.length === 2)
    oneSided.foreach { r =>
      assert(java.lang.Double.isFinite(r.getAs[Double]("contrib")))
      assert(r.getAs[Double]("contrib") > 0.0)
    }
    // null categories: INTENTIONALLY one combined (null, n_base, n_cur)
    // row — the single-scan groupBy treats null as one category on both
    // sides (the former per-side-groupBy + full-outer formulation emitted
    // two one-sided null rows only because an equi-join key never matches
    // null; that was an artifact, not a contract)
    val withNulls = Profile.categoricalDriftOf(
      spark.range(100).select(col("id").as("rid"),
        when(col("id") % 3 === 0, lit(null).cast("string"))
          .otherwise(lit("x")).as("cat")),
      col("rid") % 2 === 0, "cat").collect()
    val nullRows = withNulls.filter(_.isNullAt(0))
    assert(nullRows.length === 1, "null category must be ONE combined row")
    assert(nullRows.head.getAs[Long]("n_base") > 0
      && nullRows.head.getAs[Long]("n_cur") > 0)
  }

  test("categorical baseline artifact: fed report ≡ inline bit-for-bit; kind self-describes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_psi_cat").toString
    Profile.savePsiBaseline(docs.filter(col("doc_id") % 2 === 0), path,
      valueCol = "source", categorical = true)
    val fed = Profile.psiAgainstBaseline(spark, path,
      docs.filter(col("doc_id") % 2 =!= 0)).collect()
    val inline = Profile.categoricalDrift(spark, sf).collect()
    fed.zip(inline).foreach { case (f, i) =>
      assert(f === i, s"fed row $f differs from inline row $i") }
    val meta = spark.read.parquet(s"$path/meta.parquet").head()
    assert(meta.getAs[String]("value_col") === "source")
    assert(meta.getAs[String]("kind") === "categorical")
  }

  test("multi-column drift: each column's slice equals the single-column report") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val multi = Profile.multiColumnDrift(spark, sf).collect()
    assert(multi.length === 20) // 2 columns × 10 buckets
    for (c <- Seq("l_extendedprice", "l_quantity")) {
      val slice = multi.filter(_.getAs[String]("value_col") == c)
        .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_cur"), r.getAs[Double]("p_base"),
          r.getAs[Double]("p_cur"), r.getAs[Double]("contrib"),
          r.getAs[Double]("psi_total"))).sortBy(_._1).toSeq
      val single = Profile.distributionDriftOf(spark, li,
        col("l_orderkey") % 2 === 0, c).collect()
        .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_base"),
          r.getAs[Long]("n_cur"), r.getAs[Double]("p_base"),
          r.getAs[Double]("p_cur"), r.getAs[Double]("contrib"),
          r.getAs[Double]("psi_total"))).sortBy(_._1).toSeq
      assert(slice === single, s"column $c diverges from the single-column form")
    }
  }
}
