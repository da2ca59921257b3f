package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampType}
import graft.{Inputs, Tables}

/** Z-order (Morton-curve) data layout — the multi-dimensional clustering
  * step a 100 TB table needs for data skipping on MORE THAN ONE column
  * (SURVEY §2.B extra / §H).
  *
  * A table sorted by one key prunes parquet row groups and files on that
  * key only; a range predicate on any other column scans everything.
  * Interleaving the bits of two keys into one scalar and range-
  * partitioning + sorting by IT gives every file a bounded min/max
  * rectangle in BOTH dimensions, so the engine's ordinary min/max
  * pruning (file-level via partition stats, row-group-level via pushed
  * filters) skips on either column. This is Delta/Iceberg's OPTIMIZE
  * ZORDER semantics, built from nothing but expressions and
  * `repartitionByRange` — no table format required.
  *
  * The z-value itself is pure bit arithmetic (shift/and/or), so it stays
  * inside whole-stage codegen and is oracle-exact: DuckDB computes the
  * identical interleave with the same integer ops.
  */
object Layout {

  /** Morton interleave of the low `bits` bits of two non-negative longs:
    * x occupies even bit positions, y odd. 16+16 → a 32-bit z-value.
    * Inputs are masked first, so out-of-range keys degrade to aliasing,
    * never to a wrong-typed result.
    */
  def zvalue(x: Column, y: Column, bits: Int = 16): Column = {
    val mask = (1L << bits) - 1
    val xm = x.cast(LongType).bitwiseAND(lit(mask))
    val ym = y.cast(LongType).bitwiseAND(lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xm, b).bitwiseAND(lit(1L)), 2 * b))
        .bitwiseOR(shiftleft(shiftright(ym, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }
  }

  /** [[zvalue]] for ANY number of keys: bit b of key j lands at position
    * b·k + j (round-robin interleave — for two keys this IS [[zvalue]]'s
    * even/odd layout). k·bits must fit a non-negative long (≤ 63), which
    * is also the real design constraint: more keys means fewer effective
    * bits per key on the curve, so cluster on the FEW columns queries
    * actually band on (Delta's ZORDER guidance). Same masking degrade and
    * same [[scaleTo]] normalization requirement per key.
    */
  def zvalueN(keys: Seq[Column], bits: Int): Column = {
    require(keys.size >= 2, "zvalueN needs at least two keys")
    require(keys.size * bits <= 63,
      s"${keys.size} keys x $bits bits exceeds a long's 63 usable bits")
    val mask = (1L << bits) - 1
    val k = keys.size
    keys.zipWithIndex.foldLeft(lit(0L)) { case (acc, (key, j)) =>
      val m = key.cast(LongType).bitwiseAND(lit(mask))
      (0 until bits).foldLeft(acc) { (a, b) =>
        a.bitwiseOR(shiftleft(shiftright(m, b).bitwiseAND(lit(1L)), b * k + j))
      }
    }
  }

  /** The matching DuckDB expression for [[zvalueN]]. */
  private[graft] def zvalueSqlN(keys: Seq[String], bits: Int): String = {
    val mask = (1L << bits) - 1
    val k = keys.size
    keys.zipWithIndex.flatMap { case (key, j) =>
      (0 until bits).map(b =>
        s"((($key & $mask) >> $b & 1) << ${b * k + j})")
    }.mkString(" | ")
  }

  /** Linear rescale of a key with known [lo, hi] bounds onto the full
    * `bits`-wide grid — REQUIRED before [[zvalue]] when the interleaved
    * keys have unequal effective bit widths: raw interleave lets the wider
    * key's high bits dominate the curve and the narrow key barely clusters
    * (measured: a 10-bit custkey against a 14-bit epoch-day prunes 9/16
    * files where the normalized form prunes ≤4). Bounds come from table
    * stats or one cheap agg — at 100 TB that's the same min/max pass every
    * compaction job already makes. (Delta's OPTIMIZE ZORDER normalizes the
    * same way, via sampled range ids.)
    */
  def scaleTo(c: Column, lo: Long, hi: Long, bits: Int = 16): Column = {
    val width = (1L << bits) - 1
    floor((c.cast(LongType) - lit(lo)).cast("double") * width /
      math.max(1L, hi - lo)).cast(LongType)
  }

  /** The matching DuckDB expression — same masks, shifts, ors. */
  private[graft] def zvalueSql(x: String, y: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1
    val terms = (0 until bits).flatMap { b =>
      Seq(s"((($x & $mask) >> $b & 1) << ${2 * b})",
        s"((($y & $mask) >> $b & 1) << ${2 * b + 1})")
    }
    terms.mkString(" | ")
  }

  /** Write `df` z-ordered on `zcol` into `numFiles` range partitions, one
    * sorted file each: every output file covers a contiguous z-range, so
    * its min/max rectangle is bounded in both interleaved dimensions. At
    * 100 TB this is the once-per-compaction layout job; the shuffle it
    * pays (one range exchange) is the price of every later query's
    * multi-column skipping.
    */
  def zorderWrite(df: DataFrame, zcol: Column, outDir: String,
      numFiles: Int): Unit =
    df.withColumn("_z", zcol)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)

  /** Epoch day from a NTZ timestamp — positive epochs, double division is
    * exact at day magnitudes (same route as Relational's day bucketing).
    */
  private def epochDay(c: Column): Column =
    floor(c.cast(TimestampType).cast(LongType) / lit(86400L)).cast(LongType)

  /** Gate entry: the z-value computation itself, oracle-exact — orders
    * keyed by (o_custkey, order epoch-day). The write path is spec-only
    * ([[zorderWrite]] + the pruning assertions in LayoutSpec); the gate
    * pins the scalar the layout is built on.
    */
  def zorderKeys(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .select(col("o_orderkey"),
        zvalue(col("o_custkey"), epochDay(col("o_orderdate"))).as("zval"))
      .orderBy(col("o_orderkey"))

  /** Small-file compaction — the other half of lake maintenance next to
    * [[zorderWrite]] (z-order organizes values; compaction fixes file
    * counts). A partitioned table ingested in micro-batches accumulates
    * files-per-partition ∝ batches × writer tasks; every later scan pays
    * per-file open + footer cost, and at 100 TB the manifest/NameNode
    * pressure alone forces periodic rewrite (Delta OPTIMIZE / Iceberg
    * rewrite_data_files semantics, from bare Spark).
    *
    * One range exchange does everything: `repartitionByRange(ceil(rows /
    * maxRecordsPerFile), partitionCol, orderCol)` packs each output task
    * to ~one file's worth of CONTIGUOUS (partition, order) rows — so a
    * skewed partition splits across exactly its proportional share of
    * tasks (no hash-by-partition hot task), small partitions share tasks
    * without producing extra files, and rows inside each rewritten file
    * are clustered by `orderCol` for min/max skipping. The row-count pass
    * that sizes the job is the same stats pass every compaction job
    * already makes.
    *
    * Returns the per-partition audit (files_before, files_after, rows);
    * content equality, file-count collapse, and pruning survival are
    * spec-pinned (LayoutSpec).
    */
  def compactFiles(spark: SparkSession, inDir: String, outDir: String,
      partitionCol: String, orderCol: Column,
      maxRecordsPerFile: Long): DataFrame = {
    // the overwrite write would destroy its own input: reject outDir ==
    // inDir (and either nested in the other — a partitioned write INTO the
    // input tree corrupts later scans just as surely) on the QUALIFIED
    // paths, so "/a/b" vs "/a/./b" vs a schemeless spelling can't sneak by
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(d: String): String = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString.stripSuffix("/")
    }
    val (qIn, qOut) = (qualified(inDir), qualified(outDir))
    require(qIn != qOut && !qIn.startsWith(qOut + "/") && !qOut.startsWith(qIn + "/"),
      s"compactFiles would overwrite its input: in=$qIn out=$qOut")
    val df = spark.read.parquet(inDir)
    val total = df.count()
    val nTasks = math.max(1L, (total + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
    // the audit's input-side frames materialize BEFORE the rewrite: rows
    // is a lazy scan of inDir, and deferring it past a (mis)configured
    // rewrite is how an audit ends up reading what the rewrite left behind
    val rows = Materialize(df.groupBy(col(partitionCol).cast("string").as("partition"))
      .agg(count(lit(1)).as("rows")))
    import spark.implicits._
    def filesPerPartition(dir: String): DataFrame = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(conf)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map { st =>
          val n = fs.listStatus(st.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          (unescape(st.getPath.getName.split("=", 2)(1)), n.toLong)
        }.toSeq.toDF("partition", "files")
    }
    val before = Materialize(
      filesPerPartition(inDir).withColumnRenamed("files", "files_before"))
    df.repartitionByRange(nTasks, col(partitionCol), orderCol)
      .write.mode("overwrite").partitionBy(partitionCol)
      .option("maxRecordsPerFile", maxRecordsPerFile).parquet(outDir)
    // skipping manifests FOLLOW the data to the compacted copy — the
    // composition [[compactFlat]] already has for in-place rewrites: a
    // compacted table whose manifests stayed behind on the input would
    // read unpruned until someone remembers writeManifest. Stats get
    // TIGHTER here (contiguous orderCol ranges per file); the Bloom
    // rebuild adopts the compaction's file size, not the default.
    val inCols = manifestCols(spark, inDir)
    if (inCols.nonEmpty) writeManifest(spark, outDir, inCols)
    bloomManifestCol(spark, inDir).foreach { c =>
      val bits = java.lang.Long.highestOneBit(
        math.max(1L, 16L * maxRecordsPerFile - 1)) << 1
      writeBloomManifest(spark, outDir, c,
        expectedPerFile = maxRecordsPerFile, numBits = bits)
    }
    rows
      .join(before, Seq("partition"), "left")
      .join(filesPerPartition(outDir)
        .withColumnRenamed("files", "files_after"), Seq("partition"), "left")
      .orderBy(col("partition"))
  }

  /** Rewrite a parquet dataset in place: the new content lands in
    * `<dir>.compacting`, then two metadata renames swap it live (the old
    * data rides at `<dir>.old` until the new tree is in place, then
    * drops). The write callback receives the STAGING path — reading the
    * live `dir` lazily inside it is safe because nothing touches `dir`
    * until the write has committed. This is [[graft.etl.Sinks.auditedPromote]]'s
    * staging discipline for maintenance rewrites of an existing artifact:
    * concurrent readers see the old tree or the new tree, never a
    * half-written one (rename is a metadata move on HDFS-likes; object
    * stores need their usual rename caveats).
    */
  def rewriteInPlace(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(dir + ".compacting")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(p, old), s"rewriteInPlace: rename $dir -> $old failed")
    require(fs.rename(staging, p), s"rewriteInPlace: rename $staging -> $dir failed")
    fs.delete(old, true)
  }

  /** First-time staged promote: write into `<dir>.staging`, then one
    * rename makes the artifact visible whole — a reader never sees a
    * partially-written dir, and a crashed prior attempt's staging is
    * swept. The fresh-path sibling of [[rewriteInPlace]] (which handles
    * the dir-already-exists case); the two share the protocol the fsck
    * validator's staging checks audit, so producers must route through
    * here rather than hand-roll the sequence.
    */
  def writeFresh(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(dir + ".staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    require(fs.rename(staging, p),
      s"writeFresh: promote $staging -> $dir failed")
  }

  /** [[writeFresh]] when the target may already exist: route to
    * [[rewriteInPlace]] for an in-place generation swap, [[writeFresh]]
    * otherwise. The one call every whole-artifact producer should make.
    */
  def writeStaged(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) rewriteInPlace(spark, dir)(write)
    else writeFresh(spark, dir)(write)
  }

  /** [[compactFiles]] for an UNPARTITIONED parquet dataset rewritten in
    * place — the shape the persisted dedup/ANN index artifacts have (flat
    * dirs grown by nightly `mode("append")` folds, one small file per
    * writer task per append). One range exchange on `orderCol` packs
    * ~maxRecordsPerFile contiguous rows per output file (clustered for
    * min/max skipping on the read key), and the swap is [[rewriteInPlace]].
    * `source` defaults to the live dir; passing a filtered frame over it
    * (e.g. the index minus its tombstones) folds deletes into the same
    * rewrite — which is why the index compaction entry points route here.
    * Returns (files_before, files_after, rows_written).
    */
  def compactFlat(spark: SparkSession, dir: String, orderCol: Column,
      maxRecordsPerFile: Long,
      source: Option[DataFrame] = None): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    def parquetFiles(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
    }
    // the rewrite below is flat-by-construction: running it on a
    // hive-partitioned tree would silently FLATTEN the layout (partition
    // values survive as columns, but every later partition-pruned scan
    // loses its pruning). Fail loudly — partitioned tables compact
    // through compactFiles, which preserves the partitioning.
    require(listDataFiles(spark, dir).forall(!_.contains("/")),
      s"compactFlat is for UNPARTITIONED datasets and would flatten the " +
        s"partition layout of $dir — use compactFiles for partitioned tables")
    val before = parquetFiles(dir)
    // a skipping manifest inside the dir is swapped away WITH the old
    // generation — rebuild it over the new layout INSIDE the staging dir,
    // so data + manifest promote in the same rename (a post-swap rebuild
    // would leave a crash window where the live generation has no
    // manifest AND no recorded column list for refreshManifest to heal
    // from). File basenames survive the rename, so staging-built stats
    // describe the promoted files exactly. Compaction is when stats get
    // TIGHTER (contiguous orderCol ranges per file), not when they rot.
    val manifest = manifestCols(spark, dir)
    val bloomCol = bloomManifestCol(spark, dir)
    val df = source.getOrElse(spark.read.parquet(dir))
    val total = df.count()
    val nTasks = math.max(1L, (total + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
    rewriteInPlace(spark, dir) { staging =>
      df.repartitionByRange(nTasks, orderCol)
        .write.option("maxRecordsPerFile", maxRecordsPerFile).parquet(staging)
      if (manifest.nonEmpty) writeManifest(spark, staging, manifest)
      // size the rebuilt Blooms for the files compaction actually writes:
      // the write packs ~maxRecordsPerFile rows per file, typically far
      // above writeBloomManifest's 4096-item default — a default-sized
      // Bloom would saturate and silently degrade the false-positive rate
      // (point pruning stops skipping; extra opens, never lost rows).
      // Keep the default's 16 bits/item ratio, rounded up to a power of 2.
      bloomCol.foreach { c =>
        val bits = java.lang.Long.highestOneBit(
          math.max(1L, 16L * maxRecordsPerFile - 1)) << 1
        writeBloomManifest(spark, staging, c,
          expectedPerFile = maxRecordsPerFile, numBits = bits)
      }
    }
    (before, parquetFiles(dir), total)
  }

  // ---------------------------------------------- data-skipping manifest
  /** Single-pass `%XX` unescape — decodes one layer of percent-encoding
    * (both the URI rendering and Spark's partition-dir escaping use the
    * same syntax, so two applications unwrap a URI-rendered escaped
    * partition value back to the raw value).
    */
  private[graft] def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(s.charAt(i)); i += 1 }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** The dir's qualified prefix in the ENGINE's rendering (with trailing
    * slash): `input_file_name()` reports `fileStatus.getPath.toUri
    * .toString`, so relative manifest keys built by stripping THIS prefix
    * from `input_file_name()` are byte-identical to keys built by
    * stripping it from a driver-side `listStatus` walk — the property
    * that lets the manifest's `file` column name nested
    * (hive-partitioned) files consistently on both paths. LayoutSpec pins
    * the round trip, escaped partition values included.
    */
  private def enginePrefix(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString.stripSuffix("/") + "/"
  }

  /** `input_file_name()` rendered dir-RELATIVE — the manifest key. For a
    * flat dir this is the basename (so pre-existing flat manifests stay
    * valid); for a partitioned dir it is `day=.../part-....parquet`.
    */
  private def relFileCol(s: SparkSession, dir: String): Column =
    substring(input_file_name(), enginePrefix(s, dir).length + 1, Int.MaxValue)

  /** RECURSIVE data-file listing as dir-relative engine-rendered paths —
    * the listing every pruned reader and refresher consults. Descends
    * into hive partition dirs (any non-`_`/`.` subdir), skips manifest
    * dirs, staging trees and markers at every level. Driver cost is the
    * same file enumeration any Spark scan of the dir already performs.
    */
  private[graft] def listDataFiles(s: SparkSession,
      dir: String): IndexedSeq[String] = dataFilesOf(s, dir, listed(s, dir))

  /** The one walk of `dir` a pruned read or refresh takes: it yields the
    * data files ([[dataFilesOf]]) and keys the dir's memoized schema.
    */
  private def listed(s: SparkSession, dir: String): Inputs.Listing =
    Inputs.listing(s, dir).getOrElse(
      throw new java.io.FileNotFoundException(s"File $dir does not exist"))

  /** [[listDataFiles]] of a listing already taken: its `.parquet` leaves
    * none of whose dir-relative segments is `_`- or `.`-prefixed.
    */
  private def dataFilesOf(s: SparkSession, dir: String,
      l: Inputs.Listing): IndexedSeq[String] = {
    val pre = enginePrefix(s, dir)
    l.leaves.map(_.getPath.toUri.toString.stripPrefix(pre)).filter(rel =>
      rel.endsWith(".parquet") &&
        rel.split('/').forall(n => !n.startsWith("_") && !n.startsWith(".")))
  }

  /** A relative manifest key turned back into a readable absolute path:
    * the key is URI-rendered (the [[listDataFiles]]/`input_file_name`
    * contract), while the filesystem holds the RAW names — one unescape
    * layer undoes exactly the URI rendering (a partition dir whose
    * on-disk name itself carries `%` from Spark's value escaping
    * round-trips: the URI layer re-encoded that `%`, and one decode
    * restores it). Every pruned read and sample rescan must route here —
    * handing the encoded form to `spark.read` looks up a literal `%20`
    * on disk and misses.
    */
  private[graft] def absDataPath(dir: String, rel: String): String =
    s"$dir/${unescape(rel)}"

  /** A relative path's hive partition value for `key`, None when the path
    * carries no such segment (a flat file, or a different layout level).
    * Values are double-unescaped: once for the URI rendering the relative
    * keys use, once for Spark's partition-dir escaping — yielding the raw
    * value the discovered partition COLUMN holds.
    */
  private def partitionValueOf(rel: String, key: String): Option[String] =
    rel.split('/').dropRight(1).iterator
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if unescape(k) == key =>
        unescape(unescape(v)) }

  /** Fold PARTITION-COLUMN predicates into a prune over the listed files —
    * the piece stats intervals can't give uncovered files: a file whose
    * partition dir says `day=2024-07-01` is excludable from a
    * `day BETWEEN …` read even before any manifest covers it (dir names
    * are exact, not statistics, so this prune is safe for files of ANY
    * coverage state — including rows appended after the last refresh).
    * Predicates are evaluated THROUGH the engine (one files-sized local
    * frame, values cast to the discovered column type) so string-vs-type
    * comparison semantics can never diverge from the row-level filter;
    * a file lacking the key, or whose value doesn't cast, is KEPT (prune
    * less, never wrong). `pred` receives the typed column and returns
    * the keep condition.
    */
  private def partitionPrune(s: SparkSession, files: IndexedSeq[String],
      schema: => org.apache.spark.sql.types.StructType,
      wanted: Seq[(String, Column => Column)]): IndexedSeq[String] = {
    // cheap path check FIRST: a flat dir never forces the schema (which
    // costs a footer read + partition discovery)
    val applicable = wanted.filter { case (c, _) =>
      files.exists(partitionValueOf(_, c).isDefined) &&
        schema.fieldNames.contains(c)
    }
    if (applicable.isEmpty || files.isEmpty) return files
    val rows = files.map { f =>
      org.apache.spark.sql.Row.fromSeq(
        f +: applicable.map { case (c, _) => partitionValueOf(f, c).orNull })
    }
    val schemaLocal = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType) +:
        applicable.zipWithIndex.map { case (_, i) =>
          org.apache.spark.sql.types.StructField(s"_v$i",
            org.apache.spark.sql.types.StringType) })
    val local = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schemaLocal)
    val keep = applicable.zipWithIndex.map { case ((c, pred), i) =>
      val typed = col(s"_v$i").cast(schema(c).dataType)
      // unevaluable (null segment, failed cast) → keep: prune less, never wrong
      col(s"_v$i").isNull || coalesce(pred(typed), lit(true))
    }.reduce(_ && _)
    val kept = local.filter(keep).select(col("file"))
      .collect().map(_.getString(0)).toSet
    files.filter(kept)
  }
  /** Per-file min/max statistics for DECLARED columns over a parquet dir,
    * flat OR hive-partitioned — the Delta/Iceberg data-skipping idea from
    * bare Spark: a scan with a range predicate consults the manifest and
    * opens only the files whose [min, max] intersects it. On a
    * [[compactFlat]]/[[zorderWrite]]-clustered table that is the
    * difference between reading 100 TB and reading the two files that
    * hold the queried day. One scan builds it (groupBy file — map-side
    * combined, one row per file); files are identified by dir-RELATIVE
    * path (basename for a flat dir — pre-existing flat manifests stay
    * valid — `day=…/part-….parquet` under partitioning), so the manifest
    * survives path requalification and dir moves. Partition columns are
    * first-class: discovery surfaces them on the scan, so a declared
    * partition column gets (constant) per-file intervals like any other —
    * and partitioned layouts prune through the SAME read path.
    */
  def statsManifest(s: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "statsManifest needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    Inputs.parquet(s, dir)
      .groupBy(relFileCol(s, dir).as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  private[graft] val ManifestDir = "_skip_manifest"

  /** Persist the manifest INSIDE the data dir under a `_`-prefixed name
    * (invisible to parquet readers, travels with the data it describes —
    * the shard-manifest convention). Staged write; self-describing (the
    * covered columns are recoverable from the schema, which is how
    * [[refreshManifest]] can rebuild it without being told them).
    */
  def writeManifest(s: SparkSession, dir: String, cols: Seq[String]): Unit = {
    val m = statsManifest(s, dir, cols)
    writeStaged(s, s"$dir/$ManifestDir")(st => m.coalesce(1).write.parquet(st))
  }

  /** The columns a persisted manifest covers (from its min_/max_ schema),
    * empty when no manifest exists.
    */
  def manifestCols(s: SparkSession, dir: String): Seq[String] =
    Inputs.schemaOf(s, s"$dir/$ManifestDir").toSeq.flatMap(_.fieldNames)
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))

  /** Rebuild a dir's manifest over the columns it already declares — the
    * maintenance hook appends and compactions call so stats never go
    * stale-SILENT. No-op when no manifest exists.
    */
  def refreshManifest(s: SparkSession, dir: String): Unit = {
    val cols = manifestCols(s, dir)
    if (cols.nonEmpty) writeManifest(s, dir, cols)
  }

  /** INCREMENTAL manifest refresh — the nightly-append path: stats are
    * computed for UNCOVERED files only, covered files' rows carried
    * unchanged, phantom rows (files no longer present) dropped. A full
    * [[refreshManifest]] rescans the declared columns of the whole
    * table; at 100 TB a nightly append must pay refresh cost ∝ the
    * APPEND, not the corpus — and per-file min/max never changes for an
    * immutable parquet file, so carrying covered rows is exact (result
    * bit-equals the full rebuild, spec-pinned). The one thing this
    * deliberately does NOT heal is a file REWRITTEN in place under its
    * old name (the fsck `stats_sample` drift hazard) — that damage needs
    * the full [[refreshManifest]], which the maintenance action triggers
    * only when the sampled fsck check fails. Returns (carried, added,
    * dropped_phantoms). No-op without a manifest.
    */
  def refreshManifestIncremental(s: SparkSession,
      dir: String): (Long, Long, Long) = {
    val cols = manifestCols(s, dir)
    if (cols.isEmpty) return (0L, 0L, 0L)
    val mDir = s"$dir/$ManifestDir"
    val m = Inputs.parquet(s, mDir)
    val dataFiles = listDataFiles(s, dir)
    val covered = fileSet(m)
    val newFiles = dataFiles.filterNot(covered)
    val phantoms = (covered -- dataFiles).size.toLong
    if (newFiles.isEmpty && phantoms == 0L)
      return (covered.size.toLong, 0L, 0L)
    // carried rows materialize BEFORE the staged swap replaces their
    // source; the added rows scan ONLY the new files (basePath keeps the
    // discovered partition columns of a partitioned layout in scope)
    val kept = Materialize(m.filter(col("file").isInCollection(dataFiles)))
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val added =
      if (newFiles.isEmpty) kept.limit(0)
      else s.read.option("basePath", dir)
        .parquet(newFiles.map(absDataPath(dir, _)): _*)
        .groupBy(relFileCol(s, dir).as("file"))
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val out = kept.unionByName(added.select(kept.columns.map(col).toSeq: _*))
    writeStaged(s, mDir)(st => out.coalesce(1).write.parquet(st))
    (covered.size.toLong - phantoms, newFiles.size.toLong, phantoms)
  }

  /** Manifest-pruned scan: `c BETWEEN lo AND hi`, opening only the files
    * whose stats interval intersects — plus, CRUCIALLY, every file the
    * manifest does not cover (rows appended after the last
    * [[refreshManifest]] prune NOTHING rather than silently vanish: a
    * stale manifest degrades performance, never correctness — the same
    * safe-degradation rule Delta applies). Files whose stats are
    * all-null carry only null values of `c`, which no BETWEEN matches —
    * pruned. The row-level filter still applies inside kept files.
    * Driver cost is the manifest (one row per file — the same file list
    * every Spark scan already materializes on the driver).
    */
  def readPruned(s: SparkSession, dir: String, c: String,
      lo: Column, hi: Column): DataFrame =
    readPrunedMulti(s, dir, Seq((c, lo, hi)))

  /** [[readPruned]] for a CONJUNCTION of per-column ranges: a file is
    * opened only if EVERY requested column's manifest interval
    * intersects its range — the read-side closing of the loop with
    * [[zorderWrite]], whose whole point is that each file's min/max
    * rectangle is bounded in BOTH interleaved dimensions, so a z-ordered
    * table + a two-column manifest prunes on either key alone AND
    * tighter on both together (LayoutSpec proves fewer-files per key
    * through the manifest, result ≡ unpruned). Safety rules compose
    * per column: uncovered FILES are always kept; a requested column
    * the manifest doesn't COVER contributes no pruning (its condition
    * drops — stale or narrower manifests degrade to fewer skips, never
    * missing rows); all-null stats prune by the BETWEEN-matches-nothing
    * argument. The row-level conjunction still applies inside kept
    * files.
    */
  /** The stats-interval tier shared by [[readPrunedMulti]] and
    * [[pruneReport]]: keep a file iff it is uncovered, or every covered
    * requested column's [min, max] intersects its range. No-op without a
    * manifest.
    */
  private def statsPruneRanges(stats: Option[DataFrame],
      files: IndexedSeq[String],
      ranges: Seq[(String, Column, Column)]): IndexedSeq[String] =
    stats.fold(files) { m =>
      val coveredCols = m.schema.fieldNames
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSet
      val covered = fileSet(m)
      val conds = ranges.collect { case (c, lo, hi) if coveredCols(c) =>
        col(s"max_$c") >= lo && col(s"min_$c") <= hi
      }
      val keep =
        if (conds.isEmpty) covered // no requested column covered: keep all
        else fileSet(m.filter(conds.reduce(_ && _)))
      files.filter(f => !covered(f) || keep(f))
    }

  /** The `file` column of a manifest frame, as a set. */
  private def fileSet(m: DataFrame): Set[String] =
    m.select(col("file")).collect().map(_.getString(0)).toSet

  def readPrunedMulti(s: SparkSession, dir: String,
      ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "readPrunedMulti needs at least one range")
    // one spine for every pruned read (round 13): ranges route through
    // the same ColPred tiers as the combined entry point — the Bloom
    // tier is a structural no-op without value sets, so semantics are
    // unchanged and the three readers can never drift apart
    readPrunedWhere(s, dir,
      ranges.map { case (c, lo, hi) => ColPred.Range(c, lo, hi) })
  }

  /** Pruning AUDIT for a range read — the measure-don't-guess report an
    * operator consults before trusting a layout: which tier drops how
    * many files for THIS predicate set ("is my manifest actually
    * pruning? did the append leave everything uncovered?"). One row per
    * tier in the evaluation order the pruned readers use (partition dirs
    * → stats intervals), files_in → files_kept, plus a `total` header
    * row. Audit-priced: the same manifest scans the read itself pays,
    * no data files opened.
    */
  def pruneReport(s: SparkSession, dir: String,
      ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "pruneReport needs at least one range")
    val l = listed(s, dir)
    val all = dataFilesOf(s, dir, l)
    val (afterPart, afterStats, _) = pruneWhereTiers(s, dir,
      Inputs.schemaOf(s, l), all, ranges.map { case (c, lo, hi) => ColPred.Range(c, lo, hi) })
    import s.implicits._
    Seq(
      ("total", all.size.toLong, all.size.toLong),
      ("partition_dirs", all.size.toLong, afterPart.size.toLong),
      ("stats_intervals", afterPart.size.toLong, afterStats.size.toLong))
      .toDF("tier", "files_in", "files_kept")
  }

  // ------------------------------------------- bloom (point-lookup) manifest
  private[graft] val BloomManifestDir = "_bloom_manifest"

  /** Per-file BLOOM membership manifest over a declared column — the
    * point-lookup sibling of [[writeManifest]]: min/max stats prune RANGE
    * predicates on keys the layout clusters, but on a hash-scattered key
    * every file's [min, max] covers the whole domain and range stats
    * prune nothing — while "fetch these k ids from a 100k-file table"
    * (training-example lookup, takedown audits, eval-set joins) is a
    * POINT query. One scan builds a ~KB Bloom per file over
    * `xxhash64(c)` (Spark's own BloomFilterAggregate — no false
    * negatives, so pruning can lose opens, never rows); staged write into
    * `_bloom_manifest` inside the data dir, self-describing (the covered
    * column is recoverable from the `bloom_<c>` schema). Sizing: the
    * default 2^16 bits ≈ 8 KB/file holds ~4.7k items at 1% fp — pass the
    * real per-file row count at bigger files; fp only costs extra opens.
    */
  def writeBloomManifest(s: SparkSession, dir: String, c: String,
      expectedPerFile: Long = 4096L, numBits: Long = 1L << 16): Unit = {
    val m = Inputs.parquet(s, dir)
      .groupBy(relFileCol(s, dir).as("file"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.bloom_agg(xxhash64(col(c)), expectedPerFile, numBits)
          .as(s"bloom_$c"))
      // the build geometry rides WITH the manifest: a serialized filter
      // carries its own bit size but not the expected-items count it was
      // sized for, so an incremental refresh that only sees the stored
      // bytes would have to assume the default 16 bits/item ratio — wrong
      // for a manifest deliberately built denser or sparser, silently
      // drifting new files' hash-function count (and so their fp rate)
      // from the designed one
      .withColumn("expected_per_file", lit(expectedPerFile))
    writeStaged(s, s"$dir/$BloomManifestDir")(st =>
      m.coalesce(1).write.parquet(st))
  }

  /** The column a persisted Bloom manifest covers (from its `bloom_<c>`
    * schema), None when no manifest exists.
    */
  def bloomManifestCol(s: SparkSession, dir: String): Option[String] =
    Inputs.schemaOf(s, s"$dir/$BloomManifestDir")
      .flatMap(_.fieldNames.find(_.startsWith("bloom_")))
      .map(_.stripPrefix("bloom_"))

  /** Rebuild a dir's Bloom manifest over the column it already declares —
    * the [[refreshManifest]] discipline, PRESERVING the manifest's own
    * build geometry (a heal must repair content, not silently reset a
    * deliberate sizing to the defaults). No-op when none exists.
    */
  def refreshBloomManifest(s: SparkSession, dir: String): Unit =
    bloomManifestCol(s, dir).foreach { c =>
      val (expected, numBits) = bloomGeometry(s, dir, c)
      writeBloomManifest(s, dir, c, expected, numBits)
    }

  /** The stored manifest's build geometry (expected items per file, bit
    * size): numBits from one stored filter, expected from the persisted
    * `expected_per_file` column — default-ratio fallback only for
    * pre-geometry manifests.
    */
  private def bloomGeometry(s: SparkSession, dir: String,
      c: String): (Long, Long) = {
    val m = Inputs.parquet(s, s"$dir/$BloomManifestDir")
    val hasGeom = m.schema.fieldNames.contains("expected_per_file")
    val row = m.limit(1)
      .select((col(s"bloom_$c") +:
        (if (hasGeom) Seq(col("expected_per_file")) else Nil)): _*)
      .collect().headOption
    val numBits = row.map { r =>
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
          .bitSize()
      }.getOrElse(1L << 16)
    val expected = row.filter(_ => hasGeom).map(_.getLong(1))
      .getOrElse(math.max(1L, numBits / 16))
    (expected, numBits)
  }

  /** Saturated-Bloom monitor→action — the [[graft.ops.Similarity]]
    * `maybeRetrain` shape applied to the point-lookup manifest: a Bloom
    * built for 4k rows/file over files that grew to 40k answers "might
    * contain" almost always, so the tier silently stops pruning (no
    * wrong rows — the contract only loses SKIPS — but every lookup
    * degrades toward a full scan). The operator's docs used to say
    * "read the prune report for the saturated signature and rebuild by
    * hand"; this closes the loop. The DECISION is audit-priced with no
    * probe traffic at all: a stored filter self-reports its load —
    * `expectedFpp()` is computed from its set-bit count — so sampling a
    * few deterministic covered files gives the worst observed fp rate
    * directly. Fires when that exceeds `fppThreshold` (a right-sized
    * filter sits near its ~1% design rate; an overloaded one reads
    * 30%+), rebuilding sized to the MEASURED per-file row counts (the
    * manifest's own n_rows column — no data scan for the decision, one
    * corpus scan for the rebuild, same as any manifest build). Returns
    * (fired, newExpectedPerFile).
    */
  def maybeRebloom(s: SparkSession, dir: String,
      fppThreshold: Double = 0.25, sampleFiles: Int = 5): (Boolean, Long) = {
    require(fppThreshold > 0 && fppThreshold < 1,
      s"fppThreshold must be in (0, 1): $fppThreshold")
    val cOpt = bloomManifestCol(s, dir)
    if (cOpt.isEmpty) return (false, 0L)
    val c = cOpt.get
    val m = Inputs.parquet(s, s"$dir/$BloomManifestDir")
    val sampled = m.orderBy(col("file")).limit(sampleFiles)
      .select(col(s"bloom_$c")).collect()
    if (sampled.isEmpty) return (false, 0L)
    val worstFpp = sampled.map { r =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
        .expectedFpp()
    }.max
    if (worstFpp <= fppThreshold) return (false, 0L)
    val maxN = m.agg(max(col("n_rows"))).head.getLong(0)
    val expected = math.max(4096L, maxN)
    // 16 bits/item (the ~1% design rate), next power of two for tidy sizes
    var bits = 1L << 16
    while (bits < expected * 16) bits <<= 1
    writeBloomManifest(s, dir, c, expected, bits)
    (true, expected)
  }

  /** INCREMENTAL Bloom-manifest refresh — the
    * [[refreshManifestIncremental]] argument applied to the point-lookup
    * tier: a parquet file is immutable, so its Bloom never changes and
    * covered rows carry exactly; only UNCOVERED files are scanned, so a
    * nightly append pays refresh ∝ the append, not the corpus (the full
    * [[refreshBloomManifest]] re-hashes every row of every file). New
    * files' filters adopt the MANIFEST's own geometry (numBits read from
    * one stored filter; expected items from the persisted
    * `expected_per_file` build column, default-ratio fallback only for
    * pre-geometry manifests) so one manifest never mixes deliberate
    * sizings with defaults. Same
    * rewritten-in-place caveat (fsck `bloom_sample` catches it; heal
    * with the full rebuild). Returns (carried, added, dropped_phantoms);
    * no-op without a manifest.
    */
  def refreshBloomManifestIncremental(s: SparkSession,
      dir: String): (Long, Long, Long) = {
    val cOpt = bloomManifestCol(s, dir)
    if (cOpt.isEmpty) return (0L, 0L, 0L)
    val c = cOpt.get
    val mDir = s"$dir/$BloomManifestDir"
    val m = Inputs.parquet(s, mDir)
    val dataFiles = listDataFiles(s, dir)
    val covered = fileSet(m)
    val newFiles = dataFiles.filterNot(covered)
    val phantoms = (covered -- dataFiles).size.toLong
    if (newFiles.isEmpty && phantoms == 0L)
      return (covered.size.toLong, 0L, 0L)
    val kept = Materialize(m.filter(col("file").isInCollection(dataFiles)))
    // the geometry the manifest was BUILT with (persisted by
    // writeBloomManifest; default-ratio fallback for pre-geometry
    // manifests), so new files can never drift from the designed fp rate
    val (expected, numBits) = bloomGeometry(s, dir, c)
    val added =
      if (newFiles.isEmpty) kept.limit(0)
      else s.read.option("basePath", dir)
        .parquet(newFiles.map(absDataPath(dir, _)): _*)
        .groupBy(relFileCol(s, dir).as("file"))
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.bloom_agg(xxhash64(col(c)), expected, numBits)
            .as(s"bloom_$c"))
        .withColumn("expected_per_file", lit(expected))
    val out = kept.unionByName(added.select(kept.columns.map(col).toSeq: _*))
    writeStaged(s, mDir)(st => out.coalesce(1).write.parquet(st))
    (covered.size.toLong - phantoms, newFiles.size.toLong, phantoms)
  }

  /** Bloom-pruned point lookup: `c IN (values)`, opening only the files
    * whose Bloom MIGHT contain at least one probed value — plus, as
    * always, every file the manifest does not cover, and everything when
    * the manifest covers a different column (stale or narrower manifests
    * degrade to fewer skips, never missing rows). No false negatives by
    * the Bloom contract, so pruning moves file opens only; false
    * positives cost extra opens at the design rate. Probe hashes are
    * computed THROUGH the engine (one literal projection) so they can
    * never diverge from the manifest's `xxhash64(c)`; and the probe
    * itself runs DISTRIBUTED — the ≤k hashes ride into a
    * [[graft.functions.bloom_any_of]] filter over the manifest frame, so
    * each file's Bloom is deserialized and tested where its manifest row
    * lives and only surviving file NAMES reach the driver. (The collect-
    * every-Bloom-to-the-driver alternative is O(files × bloomBytes)
    * driver memory per lookup — ~800 MB at the 100k-file table this
    * operator targets.) All THREE pruning tiers compose on a point
    * lookup: partition-dir equality (exact, any coverage state) first,
    * then STATS intervals when the `_skip_manifest` covers `c` (a probe
    * prunes a file whose [min, max] holds NO probed value — on a
    * range-clustered key this alone serves point lookups with no Bloom
    * manifest at all), then the Bloom tier; each tier keeps its own
    * uncovered files, and the pruned read keeps partition columns via
    * basePath.
    */
  /** Tier 2 of the point route ([[readPrunedPoint]]/[[pruneReportPoint]]):
    * stats intervals — a point IS a degenerate range, so a covered
    * clustered key prunes here even when no Bloom manifest exists; typed
    * literals go through the engine like the row filter.
    */
  private def statsPrunePoint(stats: Option[DataFrame],
      files: IndexedSeq[String], c: String,
      colType: => org.apache.spark.sql.types.DataType,
      values: Seq[Any]): IndexedSeq[String] =
    stats.filter(_.schema.fieldNames.contains(s"min_$c")).fold(files) { m =>
        val covered = fileSet(m)
        val anyIn = values.map(v => col(s"min_$c") <= lit(v).cast(colType)
          && col(s"max_$c") >= lit(v).cast(colType)).reduce(_ || _)
        val keep = fileSet(m.filter(anyIn))
        files.filter(f => !covered(f) || keep(f))
      }

  /** Tier 3 of the point route: the distributed Bloom probe, one job —
    * each manifest row answers (file, might-contain), so the one pass
    * yields both the covered files and the kept ones. The manifest stays
    * distributed (KBs per file); the value hashes are evaluated on a
    * driver-local row.
    */
  private def bloomPrunePoint(s: SparkSession, bloom: Option[Inputs.Listing],
      files: IndexedSeq[String], c: String,
      colType: => org.apache.spark.sql.types.DataType,
      values: Seq[Any]): IndexedSeq[String] =
    bloom.map(Inputs.parquet(s, _))
      .filter(_.schema.fieldNames.contains(s"bloom_$c")).fold(files) { m =>
        val hashes = s.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row.empty),
            new org.apache.spark.sql.types.StructType())
          .select(values.map(v => xxhash64(lit(v).cast(colType))): _*)
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        val probed = m.select(col("file"),
            graft.functions.bloom_any_of(col(s"bloom_$c"), hashes))
          .collect()
        val covered = probed.map(_.getString(0)).toSet
        val keep = probed.filter(r => !r.isNullAt(1) && r.getBoolean(1))
          .map(_.getString(0)).toSet
        files.filter(f => !covered(f) || keep(f))
      }


  def readPrunedPoint(s: SparkSession, dir: String, c: String,
      values: Seq[Any]): DataFrame =
    // the one-spine rule: a point lookup is the single-In special case
    // of the combined entry point (all three tiers, same degrade rules)
    readPrunedWhere(s, dir, Seq(ColPred.In(c, values)))

  /** [[pruneReport]] for the point route — the same three tiers
    * [[readPrunedPoint]] evaluates (partition dirs → stats intervals →
    * Bloom probe), files_in → files_kept per tier. The row an operator
    * reads off it: a Bloom tier that stops dropping files on a lookup
    * that used to prune is the saturated-filter signature
    * (writeBloomManifest's sizing note) — rebuild with the real per-file
    * row count.
    */
  def pruneReportPoint(s: SparkSession, dir: String, c: String,
      values: Seq[Any]): DataFrame =
    pruneReportWhere(s, dir, Seq(ColPred.In(c, values)))

  // ------------------------------------------------- unified pruned read
  /** One per-column pruning predicate for [[readPrunedWhere]]: a closed
    * RANGE (`c BETWEEN lo AND hi`) or a value SET (`c IN (values)`). The
    * first real lookup on a partitioned, bloom-indexed table is the
    * conjunction `day BETWEEN a AND b AND user_id IN (…)` — before this
    * type the caller had to pick [[readPrunedMulti]] (ranges only) or
    * [[readPrunedPoint]] (one value set) and forfeit the other route's
    * pruning entirely.
    */
  sealed trait ColPred { def c: String }
  object ColPred {
    final case class Range(c: String, lo: Column, hi: Column) extends ColPred
    final case class In(c: String, values: Seq[Any]) extends ColPred
  }

  /** The three pruning tiers evaluated for a [[ColPred]] conjunction, in
    * the readers' order — the shared spine of [[readPrunedWhere]] and
    * [[pruneReportWhere]]. Every tier applies to EVERY predicate it can
    * serve: partition dirs take both forms (dir names are exact), stats
    * intervals take ranges by interval intersection and value sets by
    * any-value-in-interval (a point is a degenerate range), and the
    * Bloom probe takes value sets on the covered column. Per-column
    * degrade is unchanged from the single-route readers: an uncovered
    * column contributes no pruning at that tier, uncovered FILES are
    * always kept — prune less, never wrong.
    */
  private def pruneWhereTiers(s: SparkSession, dir: String,
      schema: => org.apache.spark.sql.types.StructType,
      all: IndexedSeq[String], preds: Seq[ColPred])
      : (IndexedSeq[String], IndexedSeq[String], IndexedSeq[String]) = {
    // each manifest is listed once per read, and only by a tier that needs it
    lazy val stats = Inputs.local(s, s"$dir/$ManifestDir")
    lazy val bloom = Inputs.listing(s, s"$dir/$BloomManifestDir")
    val afterPart = partitionPrune(s, all, schema, preds.map {
      case ColPred.Range(c, lo, hi) => (c, (v: Column) => v >= lo && v <= hi)
      case ColPred.In(c, vs) => (c, (v: Column) => v.isin(vs: _*))
    })
    val ranges = preds.collect { case ColPred.Range(c, lo, hi) => (c, lo, hi) }
    val points = preds.collect { case p: ColPred.In => p }
    val afterStats = points.foldLeft(
        if (ranges.isEmpty) afterPart
        else statsPruneRanges(stats, afterPart, ranges)) { (files, p) =>
      statsPrunePoint(stats, files, p.c, schema(p.c).dataType, p.values)
    }
    val afterBloom = points.foldLeft(afterStats) { (files, p) =>
      bloomPrunePoint(s, bloom, files, p.c, schema(p.c).dataType, p.values)
    }
    (afterPart, afterStats, afterBloom)
  }

  /** Pruned read for a CONJUNCTION of ranges AND value sets — the
    * composed entry point over [[readPrunedMulti]]'s and
    * [[readPrunedPoint]]'s tiers, so `day BETWEEN a AND b AND
    * user_id IN (…)` prunes through partition dirs (both predicate
    * forms), stats intervals (both forms) AND the Bloom manifest (value
    * sets) in one read instead of forfeiting whichever route the caller
    * didn't pick. Kept files ≤ either single route's on the same
    * predicates (each tier only removes); result ≡ the unpruned filtered
    * read (every tier keeps uncovered files, no tier has false
    * negatives); the row-level conjunction still applies inside kept
    * files, and basePath keeps discovered partition columns in scope.
    */
  def readPrunedWhere(s: SparkSession, dir: String,
      preds: Seq[ColPred]): DataFrame = {
    require(preds.nonEmpty, "readPrunedWhere needs at least one predicate")
    preds.foreach {
      case ColPred.In(c, vs) => require(vs.nonEmpty,
        s"readPrunedWhere: IN predicate on '$c' needs at least one value")
      case _ => ()
    }
    val l = listed(s, dir)
    val (_, _, pruned) = pruneWhereTiers(s, dir, Inputs.schemaOf(s, l),
      dataFilesOf(s, dir, l), preds)
    val base =
      if (pruned.isEmpty) Inputs.parquet(s, l).filter(lit(false))
      else Inputs.parquetFiles(s, l, pruned.map(absDataPath(dir, _)))
    base.filter(preds.map {
      case ColPred.Range(c, lo, hi) => col(c) >= lo && col(c) <= hi
      case ColPred.In(c, vs) => col(c).isin(vs: _*)
    }.reduce(_ && _))
  }

  /** [[pruneReport]] for the combined route — files_in → files_kept per
    * tier for exactly the tiers [[readPrunedWhere]] evaluates on the
    * same predicate conjunction. Audit-priced (manifest scans only, no
    * data files opened).
    */
  def pruneReportWhere(s: SparkSession, dir: String,
      preds: Seq[ColPred]): DataFrame = {
    require(preds.nonEmpty, "pruneReportWhere needs at least one predicate")
    preds.foreach {
      case ColPred.In(c, vs) => require(vs.nonEmpty,
        s"pruneReportWhere: IN predicate on '$c' needs at least one value")
      case _ => ()
    }
    val l = listed(s, dir)
    val all = dataFilesOf(s, dir, l)
    val (afterPart, afterStats, afterBloom) =
      pruneWhereTiers(s, dir, Inputs.schemaOf(s, l), all, preds)
    import s.implicits._
    Seq(
      ("total", all.size.toLong, all.size.toLong),
      ("partition_dirs", all.size.toLong, afterPart.size.toLong),
      ("stats_intervals", afterPart.size.toLong, afterStats.size.toLong),
      ("bloom_probe", afterStats.size.toLong, afterBloom.size.toLong))
      .toDF("tier", "files_in", "files_kept")
  }

  /** Gate entry: documents hash-scattered into 16 files (every file's
    * doc_id [min, max] spans the whole domain — range stats prune
    * NOTHING here, which is the point) + a Bloom manifest, then a
    * six-id point lookup served through [[readPrunedPoint]] —
    * ORACLE-EXACT against DuckDB's plain IN-filtered aggregate (pruning
    * moves opens, never rows; the fewer-files and no-false-negative
    * assertions live in LayoutSpec). Build memoized per (session,
    * corpus) like the other skipping gates.
    */
  def bloomLookup(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.SessionMemo.scratchPath(
      s, "graft_bloomm", dir) + "/documents"
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/$BloomManifestDir")
    if (!mp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(mp)) {
      Tables(s, dir).documents
        .select(col("doc_id"), col("source"), col("n_chars"))
        .repartition(16, col("doc_id"))
        .write.mode("overwrite").parquet(tmp)
      writeBloomManifest(s, tmp, "doc_id")
    }
    readPrunedPoint(s, tmp, "doc_id",
        Seq(3L, 57L, 111L, 222L, 333L, 444L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** Gate entry: lineitem range-clustered on l_shipdate + a manifest, then
    * a two-year revenue summary served through [[readPruned]] — the
    * result must equal the oracle's plain filtered aggregate over the
    * whole table (ORACLE-EXACT: pruning moves file-open work, never
    * rows; the kept-files < total assertion lives in LayoutSpec). The
    * clustered copy + manifest build once per (session, corpus) — the
    * SessionMemo discipline — so the bench's best-of-N times the PRUNED
    * READ, not the one-time layout job, and repeat runs don't leak a
    * temp dir each.
    */
  def skippingRead(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.SessionMemo.scratchPath(
      s, "graft_skip", dir) + "/lineitem"
    // memoize through the same FS abstraction the writes use — a
    // java.io.File probe always misses on any non-local default FS, and
    // the silent rebuild-every-call would put the layout job inside the
    // bench interval this memo exists to keep it out of
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/$ManifestDir")
    if (!mp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(mp)) {
      Tables(s, dir).lineitem
        .repartitionByRange(8, col("l_shipdate"))
        .write.mode("overwrite").option("maxRecordsPerFile", 12000).parquet(tmp)
      writeManifest(s, tmp, Seq("l_shipdate"))
    }
    readPruned(s, tmp, "l_shipdate",
        lit("1995-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))
            * (lit(BigDecimal(1)).cast(DecimalType(18, 2))
               - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Gate entry: orders z-ordered on (o_custkey, order epoch-day) with a
    * TWO-column manifest, served through [[readPrunedMulti]] on a
    * conjunction of both ranges — the multi-dimensional skipping loop
    * closed end-to-end (z-layout → per-file rectangles → intersected
    * manifest pruning). ORACLE-EXACT: pruning moves file opens, never
    * rows; the per-key fewer-files assertions live in LayoutSpec. The
    * clustered copy builds once per (session, corpus) like
    * [[skippingRead]]. Keys are [[scaleTo]]-normalized onto the 10-bit
    * grid (unequal raw widths — the scaladoc's measured pruning loss).
    */
  def skippingReadMulti(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.SessionMemo.scratchPath(
      s, "graft_skipz", dir) + "/orders"
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/$ManifestDir")
    if (!mp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(mp)) {
      val o = Tables(s, dir).orders
        .withColumn("o_day", epochDay(col("o_orderdate")))
      val b = o.agg(min(col("o_custkey")), max(col("o_custkey")),
        min(col("o_day")), max(col("o_day"))).head()
      zorderWrite(o,
        zvalue(scaleTo(col("o_custkey"), b.getLong(0), b.getLong(1), 10),
          scaleTo(col("o_day"), b.getLong(2), b.getLong(3), 10), 10),
        tmp, 16)
      writeManifest(s, tmp, Seq("o_custkey", "o_day"))
    }
    // 1994-01-01 .. 1995-12-31 as epoch days, mid-range custkeys
    readPrunedMulti(s, tmp, Seq(
        ("o_custkey", lit(100L), lit(500L)),
        ("o_day", lit(8766L), lit(9495L))))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Gate entry: events written `partitionBy(day)` — the layout
    * [[graft.etl.Sinks]]' partitioned write recommends — clustered by
    * user_id inside each partition, with a TWO-column manifest
    * (user_id + the partition column itself), served through
    * [[readPrunedMulti]] on a conjunction of both ranges. This is the
    * composition the flat-only readers silently missed: partition-DIR
    * pruning (exact, applies to any coverage state) excludes out-of-range
    * days, and the manifest's user_id intervals prune inside kept days.
    * ORACLE-EXACT: pruning moves file opens, never rows (DuckDB
    * recomputes the plain filtered aggregate over the whole table); the
    * fewer-files and partitioned-manifest-key assertions live in
    * LayoutSpec. Built once per (session, corpus) like the other
    * skipping gates.
    */
  /** The memoized partitionBy(day) events copy + two-column manifest the
    * partitioned-skipping gates share (one build per session + corpus —
    * the SessionMemo discipline).
    */
  private def partitionedEventsDir(s: SparkSession, dir: String): String = {
    val tmp = graft.ops.SessionMemo.scratchPath(
      s, "graft_skipp", dir) + "/events"
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/$ManifestDir")
    if (!mp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(mp)) {
      Tables(s, dir).events
        .withColumn("day",
          floor(graft.etl.JsonEtl.tsSec(col("ts")) / lit(86400L))
            .cast(LongType))
        .select(col("day"), col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(8, col("day"), col("user_id"))
        .sortWithinPartitions(col("day"), col("user_id"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      writeManifest(s, tmp, Seq("user_id", "day"))
    }
    tmp
  }

  def skippingReadPartitioned(s: SparkSession, dir: String): DataFrame =
    readPrunedMulti(s, partitionedEventsDir(s, dir), Seq(
        ("day", lit(19733L), lit(19742L)),
        ("user_id", lit(3L), lit(9L))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy(col("event_type"))

  /** The partitioned events copy WITH the point tier: the same dir as
    * [[partitionedEventsDir]] plus a Bloom manifest over user_id — the
    * canonical "partitioned, bloom-indexed table" the combined route
    * serves. Memoized like the dir itself.
    */
  private def bloomedEventsDir(s: SparkSession, dir: String): String = {
    val tmp = partitionedEventsDir(s, dir)
    val bp = new org.apache.hadoop.fs.Path(s"$tmp/$BloomManifestDir")
    if (!bp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(bp))
      writeBloomManifest(s, tmp, "user_id")
    tmp
  }

  /** Gate entry: `day BETWEEN a AND b AND user_id IN (…)` over the
    * partitioned, bloom-indexed events copy, served through
    * [[readPrunedWhere]] — the first real lookup shape on such a table,
    * pruning through ALL THREE tiers in one read (partition dirs on the
    * day band, stats intervals on both predicates, Bloom probe on the id
    * set) where the single-route readers each forfeit a tier.
    * ORACLE-EXACT against DuckDB's plain filtered aggregate: pruning
    * moves file opens, never rows. The conjunction ≤ min(per-route) and
    * result ≡ unpruned assertions live in LayoutSpec.
    */
  def prunedWhereQ(s: SparkSession, dir: String): DataFrame =
    readPrunedWhere(s, bloomedEventsDir(s, dir), Seq(
        ColPred.Range("day", lit(19733L), lit(19742L)),
        ColPred.In("user_id", Seq(3L, 5L, 7L, 9L))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy(col("event_type"))

  /** Gate entry (rows-only — file counts are layout metadata no SQL
    * oracle computes): the [[pruneReportWhere]] audit over the
    * partitioned, bloom-indexed events copy for the same combined
    * predicate [[prunedWhereQ]] reads — the operator-facing answer to
    * "is my layout actually pruning this query, and which tier does the
    * work", now spanning all three tiers. Tier monotonicity and
    * fewer-files are spec-pinned in LayoutSpec.
    */
  def pruneReportQ(s: SparkSession, dir: String): DataFrame =
    pruneReportWhere(s, bloomedEventsDir(s, dir), Seq(
        ColPred.Range("day", lit(19733L), lit(19742L)),
        ColPred.In("user_id", Seq(3L, 5L, 7L, 9L))))
      .orderBy(col("tier"))

  /** Gate entry: lineitem z-ordered on THREE normalized keys
    * (supplier, part, ship epoch-day — 7 bits each on the round-robin
    * [[zvalueN]] curve) with a three-column manifest, served through
    * [[readPrunedMulti]] on the triple conjunction — the multi-
    * dimensional skipping loop at the arity real layouts use (Delta's
    * ZORDER guidance caps useful keys at ~3-4; this is the shape's
    * existence proof end-to-end). ORACLE-EXACT: pruning moves file
    * opens, never rows; the per-key fewer-files assertions live in
    * LayoutSpec. Built once per (session, corpus).
    */
  def skippingReadZ3(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.ops.SessionMemo.scratchPath(
      s, "graft_skipz3", dir) + "/lineitem"
    val mp = new org.apache.hadoop.fs.Path(s"$tmp/$ManifestDir")
    if (!mp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(mp)) {
      val li = Tables(s, dir).lineitem
        .withColumn("l_day", epochDay(col("l_shipdate")))
      val b = li.agg(
        min(col("l_suppkey")), max(col("l_suppkey")),
        min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_day")), max(col("l_day"))).head()
      zorderWrite(li, zvalueN(Seq(
          scaleTo(col("l_suppkey"), b.getLong(0), b.getLong(1), 7),
          scaleTo(col("l_partkey"), b.getLong(2), b.getLong(3), 7),
          scaleTo(col("l_day"), b.getLong(4), b.getLong(5), 7)), 7),
        tmp, 16)
      writeManifest(s, tmp, Seq("l_suppkey", "l_partkey", "l_day"))
    }
    readPrunedMulti(s, tmp, Seq(
        ("l_suppkey", lit(2L), lit(30L)),
        ("l_partkey", lit(10L), lit(600L)),
        ("l_day", lit(9131L), lit(9861L))))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder" -> (zorderKeys _),
    "layout_skipping_read_z3" -> (skippingReadZ3 _),
    "layout_skipping_read" -> (skippingRead _),
    "layout_skipping_read_multi" -> (skippingReadMulti _),
    "layout_skipping_read_partitioned" -> (skippingReadPartitioned _),
    "layout_pruned_where" -> (prunedWhereQ _),
    "layout_prune_report" -> (pruneReportQ _),
    "layout_bloom_lookup" -> (bloomLookup _)
  )

  val oracles: Map[String, String] = Map(
    "layout_zorder" ->
      s"""SELECT o_orderkey,
         |  ${zvalueSql("o_custkey", "epoch_ms(o_orderdate)//1000//86400")} AS zval
         |FROM orders
         |ORDER BY o_orderkey""".stripMargin,
    "layout_skipping_read" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <= TIMESTAMP '1996-12-31'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "layout_skipping_read_multi" ->
      """WITH o AS (SELECT *, epoch_ms(o_orderdate)//1000//86400 AS o_day
        |  FROM orders)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM o
        |WHERE o_custkey BETWEEN 100 AND 500
        |  AND o_day BETWEEN 8766 AND 9495
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "layout_skipping_read_z3" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey BETWEEN 2 AND 30
        |  AND l_partkey BETWEEN 10 AND 600
        |  AND epoch_ms(l_shipdate)//1000//86400 BETWEEN 9131 AND 9861
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "layout_skipping_read_partitioned" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE epoch_ms(ts)//1000//86400 BETWEEN 19733 AND 19742
        |  AND user_id BETWEEN 3 AND 9
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "layout_pruned_where" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE epoch_ms(ts)//1000//86400 BETWEEN 19733 AND 19742
        |  AND user_id IN (3, 5, 7, 9)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "layout_bloom_lookup" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id IN (3, 57, 111, 222, 333, 444)
        |GROUP BY source ORDER BY source""".stripMargin
  )
}
