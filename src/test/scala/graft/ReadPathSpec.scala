package graft

import java.nio.file.Files
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._
import graft.ops.Layout
import graft.ops.Layout.ColPred

/** The lake read path pays for data, not for jobs: [[Inputs]] memoizes
  * input schemas and collects stats manifests to the driver once per
  * listing stamp, and the Bloom probe is one job. Job budgets pin it;
  * staleness specs pin that every rewrite is seen.
  */
class ReadPathSpec extends SparkSpec {

  /** The stage names of every job `body` schedules, one entry per job. */
  private def jobsOf[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val group = "read-path-" + java.util.UUID.randomUUID
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.map(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def inferences(jobs: Seq[Seq[String]]): Int =
    jobs.count(_.exists(_.startsWith("parquet at ")))

  /** The relational mix of the benchmark's lake workload. */
  private val lakeQueries = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_window_running", "q_rank_in_group", "q_range_join", "q_asof_join",
    "q_interval_join", "q_grouping_sets", "q_topk_orders", "q_semi_join",
    "q_anti_join")

  /** Jobs each query schedules on its second call at sf0.001, none of them
    * a schema inference. A budget changes only with a reason.
    */
  private val relationalBudget = Map(
    "q1_pricing_summary" -> 4, "q3_shipping_priority" -> 4,
    "q5_local_supplier" -> 7, "q_window_running" -> 4,
    "q_rank_in_group" -> 4, "q_range_join" -> 5, "q_asof_join" -> 5,
    "q_interval_join" -> 7, "q_grouping_sets" -> 4, "q_topk_orders" -> 1,
    "q_semi_join" -> 4, "q_anti_join" -> 4)

  test("lake read path: relational queries schedule no schema-inference job, within their budgets") {
    val counts = lakeQueries.map { q =>
      val run = () => SparkEntry.queries(q)(spark, sf).collect()
      val first = run()
      val (second, jobs) = jobsOf(run())
      assert(second.toSeq === first.toSeq, s"$q: the memoized read changed rows")
      assert(inferences(jobs) === 0, s"$q schedules an inference job: $jobs")
      q -> jobs.size
    }.toMap
    println(s"[read-path] relational jobs: $counts")
    assert(counts === relationalBudget)
  }

  /** lineitem laid out as the benchmark's lake does: range-clustered on
    * the order key into 8 files, a stats manifest on (l_orderkey,
    * l_shipdate) and a Bloom manifest on l_partkey.
    */
  private lazy val laidOut: String = {
    val dir = Files.createTempDirectory("graft_readpath").toString + "/li"
    Tables(spark, sf).lineitem.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.parquet(dir)
    Layout.writeManifest(spark, dir, Seq("l_orderkey", "l_shipdate"))
    Layout.writeBloomManifest(spark, dir, "l_partkey",
      expectedPerFile = 16384L, numBits = 1L << 17)
    dir
  }

  private def summary(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
        .as("sum_qty"))

  test("lake read path: both lookup shapes take at most 3 jobs, none an inference") {
    val li = spark.read.parquet(laidOut)
    val keys = li.select(col("l_orderkey")).distinct().orderBy(col("l_orderkey"))
      .collect().map(_.getLong(0))
    val points = Seq(keys(3), keys(keys.length / 2), keys(keys.length - 5))
    val (lo, hi) = (keys(keys.length / 4), keys(keys.length / 4 + keys.length / 8))
    val parts = li.filter(col("l_orderkey").between(lo, hi))
      .select(col("l_partkey")).distinct().orderBy(col("l_partkey"))
      .collect().map(_.getLong(0)).take(6).toSeq :+ 987654321L
    val lookups = Seq(
      "point" -> ((() => Layout.readPrunedPoint(spark, laidOut, "l_orderkey",
        points)), li.filter(col("l_orderkey").isin(points: _*))),
      "where" -> ((() => Layout.readPrunedWhere(spark, laidOut, Seq(
          ColPred.Range("l_orderkey", lit(lo), lit(hi)),
          ColPred.In("l_partkey", parts)))),
        li.filter(col("l_orderkey").between(lo, hi) &&
          col("l_partkey").isin(parts: _*))))
    val counts = lookups.map { case (name, (lookup, plain)) =>
      summary(lookup()).collect()
      val ((rows, files), jobs) = jobsOf {
        val df = lookup()
        (summary(df).collect().toSeq, df.inputFiles.length)
      }
      assert(rows === summary(plain).collect().toSeq,
        s"$name: pruning moves file opens, never rows")
      assert(files < 8, s"$name must prune: opens $files of 8 files")
      assert(inferences(jobs) === 0, s"$name schedules an inference job: $jobs")
      name -> jobs.size
    }.toMap
    println(s"[read-path] lookup jobs: $counts")
    // point: the summary's scan and its final aggregate (the stats
    // manifest prunes on the driver; the Bloom manifest covers another
    // column, so it is not read); where: the same plus the Bloom probe
    assert(counts === Map("point" -> 2, "where" -> 3))
  }

  private def sameRead(path: String): Unit = {
    val memo = Inputs.parquet(spark, path)
    val fresh = spark.read.parquet(path)
    assert(memo.schema === fresh.schema, s"stale schema at $path")
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(memo) === rows(fresh), s"stale rows at $path")
  }

  test("memoized reads see every rewrite: added column, appended partition file, rewritten manifest") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_readpath_stale").toString
    val prunedTo = (dir: String, c: String, v: Long) =>
      Layout.readPrunedPoint(spark, dir, c, Seq(v))

    // a flat dir rewritten with an added column
    val flat = s"$root/flat"
    (0L until 400L).map(i => (i, i % 7)).toDF("a", "b")
      .repartitionByRange(4, col("a")).write.mode("overwrite").parquet(flat)
    Layout.writeManifest(spark, flat, Seq("a"))
    sameRead(flat)
    assert(prunedTo(flat, "a", 5L).inputFiles.length === 1)
    (0L until 400L).map(i => (i, i % 7, 1000L - i)).toDF("a", "b", "c")
      .repartitionByRange(4, col("c")).write.mode("overwrite").parquet(flat)
    sameRead(flat)
    Layout.writeManifest(spark, flat, Seq("c"))
    assert(Layout.manifestCols(spark, flat) === Seq("c"))
    val byC = prunedTo(flat, "c", 995L)
    assert(byC.inputFiles.length === 1, "a lookup must prune by the new stats")
    assert(byC.select("a").as[Long].collect().toSeq === Seq(5L))

    // a file appended to an existing day= partition
    val parted = s"$root/parted"
    (0L until 300L).map(i => (i, i % 3)).toDF("id", "day")
      .repartition(2).write.mode("overwrite").partitionBy("day").parquet(parted)
    Layout.writeManifest(spark, parted, Seq("id"))
    sameRead(parted)
    val extra = s"$root/extra"
    Seq((5000L, 1L)).toDF("id", "day").coalesce(1)
      .write.mode("overwrite").partitionBy("day").parquet(extra)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val moved = fs.listStatus(new org.apache.hadoop.fs.Path(s"$extra/day=1"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(moved.length === 1)
    assert(fs.rename(moved.head,
      new org.apache.hadoop.fs.Path(s"$parted/day=1/part-appended.parquet")))
    sameRead(parted)
    // the appended file is uncovered, so every lookup keeps it until the
    // manifest is rebuilt; then its stats prune it
    val appended = (df: DataFrame) =>
      df.inputFiles.exists(_.endsWith("part-appended.parquet"))
    val stale = prunedTo(parted, "id", 7L)
    assert(appended(stale))
    assert(stale.select("id").as[Long].collect().toSeq === Seq(7L))
    Layout.writeManifest(spark, parted, Seq("id"))
    val refreshed = prunedTo(parted, "id", 7L)
    assert(!appended(refreshed), "a lookup must prune by the new stats")
    assert(refreshed.select("id").as[Long].collect().toSeq === Seq(7L))
    val onlyNew = prunedTo(parted, "id", 5000L)
    assert(onlyNew.inputFiles.length === 1 && appended(onlyNew))
    assert(onlyNew.select("id").as[Long].collect().toSeq === Seq(5000L))

    // a manifest rewritten through writeStaged, data untouched
    val rewritten = s"$root/rewritten"
    (0L until 400L).map(i => (i, 399L - i)).toDF("a", "b")
      .repartitionByRange(4, col("a")).write.mode("overwrite").parquet(rewritten)
    Layout.writeManifest(spark, rewritten, Seq("a"))
    assert(prunedTo(rewritten, "b", 10L).inputFiles.length === 4,
      "b is uncovered: nothing prunes")
    Layout.writeStaged(spark, s"$rewritten/${Layout.ManifestDir}")(st =>
      Layout.statsManifest(spark, rewritten, Seq("a", "b"))
        .coalesce(1).write.mode("overwrite").parquet(st))
    sameRead(s"$rewritten/${Layout.ManifestDir}")
    val byB = prunedTo(rewritten, "b", 10L)
    assert(byB.inputFiles.length === 1, "a lookup must prune by the new stats")
    assert(byB.select("a").as[Long].collect().toSeq === Seq(389L))

    // a manifest rewritten to the same byte length and mtime: only the
    // new part file's name tells the two generations apart
    val same = s"$root/same"
    Seq(5L).toDF("a").coalesce(1).write.mode("overwrite").parquet(same)
    Seq(500L).toDF("a").coalesce(1).write.mode("append").parquet(same)
    val mDir = s"$same/${Layout.ManifestDir}"
    val exact = Layout.statsManifest(spark, same, Seq("a"))
    val rows = exact.collect()
    def putManifest(widened: Boolean): org.apache.hadoop.fs.FileStatus = {
      // plain, uncompressed longs: both generations have one byte length
      val out = rows.map(r =>
        if (widened && r.getLong(2) == 500L)
          org.apache.spark.sql.Row(r.get(0), r.get(1), 5L, 500L)
        else r)
      Layout.writeStaged(spark, mDir)(st =>
        spark.createDataFrame(java.util.Arrays.asList(out: _*), exact.schema)
          .coalesce(1).write.mode("overwrite")
          .option("compression", "none")
          .option("parquet.enable.dictionary", "false").parquet(st))
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(mDir))
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(parts.length === 1)
      parts.head
    }
    val v1 = putManifest(widened = false)
    assert(prunedTo(same, "a", 5L).inputFiles.length === 1)
    val v2 = putManifest(widened = true)
    assert(v2.getLen === v1.getLen, "both manifests must have one length")
    fs.setTimes(v2.getPath, v1.getModificationTime, -1L)
    val widened = prunedTo(same, "a", 5L)
    assert(widened.inputFiles.length === 2,
      "a lookup must prune by the rewritten stats")
    assert(widened.select("a").as[Long].collect().toSeq === Seq(5L))
  }
}
