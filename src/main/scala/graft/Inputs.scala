package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ops.SessionMemo

/** The one read path for graft's parquet inputs and graft-owned metadata
  * ([[Tables]], the `Layout` manifests and pruned reads).
  *
  * A plain `spark.read.parquet(path)` schedules a one-task schema-inference
  * job (a footer read) before the scan is even planned; on a lake of small
  * queries and lookups that job is a large share of all jobs run. Here the
  * inferred schema is memoized per session and every read goes through
  * `read.schema(memoized)`, which plans the identical relation without the
  * job. The memo key is the qualified path, validated by a stamp of its
  * leaf listing — file count, newest mtime, total length and a hash of the
  * leaf names, over the files Spark itself would list — so any add, remove
  * or rewrite under the path re-infers (Spark's part names carry a
  * per-write id, so even a same-size rewrite within one mtime tick is
  * seen), and a rewritten path holds one entry, not one per generation.
  *
  * One [[Listing]] (one driver-side walk) serves a whole call: the stamp,
  * the schema and the caller's own file list all come from it.
  */
private[graft] object Inputs {

  /** A leaf listing's identity: what a rewrite cannot leave unchanged. */
  private final case class Stamp(files: Int, newestMtime: Long, bytes: Long,
      names: Long)

  /** One walk of `path`: its qualified form, the stamp of its leaf listing
    * and the leaves themselves, in walk order.
    */
  final class Listing private[Inputs] (val path: String,
      private[Inputs] val key: String, private[Inputs] val stamp: Stamp,
      val leaves: IndexedSeq[FileStatus])

  // two memos: building a local frame reads through the schema memo, and a
  // build may not re-enter the map it is being stored in
  private val schemas = new SessionMemo[String, (Stamp, StructType)]
  private val locals = new SessionMemo[String, (Stamp, DataFrame)]

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * hidden and `_`-prefixed names are not data, except partition dirs and
    * the parquet summary files, which schema inference does consult.
    */
  private def listed(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_"))

  /** Walk `path` once; None when it does not exist. */
  def listing(s: SparkSession, path: String): Option[Listing] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val leaves = scala.collection.mutable.ArrayBuffer[FileStatus]()
    def walk(st: FileStatus): Unit =
      if (!st.isDirectory) leaves += st
      else fs.listStatus(st.getPath).foreach { c =>
        if (listed(c.getPath.getName)) walk(c)
      }
    try walk(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => return None }
    Some(new Listing(path, fs.makeQualified(p).toString, Stamp(leaves.size,
      leaves.iterator.map(_.getModificationTime).maxOption.getOrElse(0L),
      leaves.iterator.map(_.getLen).sum,
      // order-free, so the walk order of a listing does not matter
      leaves.iterator.map(l =>
        scala.util.hashing.MurmurHash3.stringHash(l.getPath.toString).toLong)
        .sum), leaves.toIndexedSeq))
  }

  /** `spark.read.parquet(l.path)`, optionally under a known schema. A path
    * whose own name Spark's listing filter drops (graft's `_`-prefixed
    * manifest dirs) reads from its listed leaves rooted at the path: the
    * same files, without Spark's warning that all paths were ignored.
    */
  private def read(s: SparkSession, l: Listing,
      schema: Option[StructType]): DataFrame = {
    val r = schema.fold(s.read)(s.read.schema)
    if (listed(new Path(l.path).getName) || l.leaves.isEmpty) r.parquet(l.path)
    else r.option("basePath", l.path)
      .parquet(l.leaves.map(_.getPath.toString): _*)
  }

  /** `spark.read.parquet(path)` with no memo — a read that must infer
    * afresh, such as an audit of a graft metadata dir.
    */
  def plain(s: SparkSession, path: String): DataFrame =
    listing(s, path).fold(s.read.parquet(path))(read(s, _, None))

  /** The memoized schema of `l`, or — on a miss — the inferred frame,
    * whose schema is stored for the next read of the same listing.
    */
  private def memoized(s: SparkSession,
      l: Listing): Either[StructType, DataFrame] = {
    var inferred: Option[DataFrame] = None
    val held = schemas.fresh(s, l.key)(_._1 == l.stamp) {
      val df = read(s, l, None)
      inferred = Some(df)
      (l.stamp, df.schema)
    }._2
    inferred.toRight(held)
  }

  /** The schema `spark.read.parquet(l.path)` infers. Inference runs once
    * per listing stamp.
    */
  def schemaOf(s: SparkSession, l: Listing): StructType =
    memoized(s, l).fold(identity, _.schema)

  /** [[schemaOf]] of `path`, None when the path does not exist. */
  def schemaOf(s: SparkSession, path: String): Option[StructType] =
    listing(s, path).map(schemaOf(s, _))

  /** `spark.read.parquet(l.path)` — the same frame — without the inference
    * job once the listing has been seen.
    */
  def parquet(s: SparkSession, l: Listing): DataFrame =
    memoized(s, l).fold(schema => read(s, l, Some(schema)), identity)

  /** [[parquet]] of `path`. A missing path reads plainly, so it fails with
    * Spark's own error.
    */
  def parquet(s: SparkSession, path: String): DataFrame =
    listing(s, path).fold(s.read.parquet(path))(parquet(s, _))

  /** `files` of the dataset listed by `base` (absolute paths under it),
    * read with partition discovery rooted at `base` and the schema of the
    * whole dataset — a pruned read's columns never depend on which files
    * survived the pruning.
    */
  def parquetFiles(s: SparkSession, base: Listing,
      files: Seq[String]): DataFrame =
    s.read.schema(schemaOf(s, base)).option("basePath", base.path)
      .parquet(files: _*)

  /** A small graft-owned parquet artifact (a stats manifest) collected
    * once per listing stamp into a driver-local frame; None when it does
    * not exist. Filters and projections over the frame fold into the local
    * relation at optimization (`ConvertToLocalRelation`), so pruning on it
    * runs no Spark job and keeps the engine's comparison semantics.
    */
  def local(s: SparkSession, path: String): Option[DataFrame] =
    listing(s, path).map { l =>
      locals.fresh(s, l.key)(_._1 == l.stamp) {
        val df = parquet(s, l)
        val rows = df.collect()
        (l.stamp,
          s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
      }._2
    }

  // ------------------------------------------------------------ stamps
  /** The text of a graft-owned stamp: a small `_`-prefixed file beside the
    * data it describes (`_state_meta`, `_ann_spec`, `_geometry`, ...),
    * invisible to parquet readers. None when absent.
    */
  def readStamp(s: SparkSession, file: String): Option[String] = {
    val p = new Path(file)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Write `text` as the stamp `file`, replacing any previous one. */
  def writeStamp(s: SparkSession, file: String, text: String): Unit = {
    val p = new Path(file)
    val out = p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** A stamp in the sorted `key=value` line form; empty when absent. */
  def readKeyValues(s: SparkSession, file: String): Map[String, String] =
    readStamp(s, file).fold(Map.empty[String, String]) {
      _.linesIterator.filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    }

  /** Write `kv` as a sorted `key=value` stamp (a repeated key keeps its
    * last value).
    */
  def writeKeyValues(s: SparkSession, file: String,
      kv: Iterable[(String, String)]): Unit =
    writeStamp(s, file, kv.toMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))
}
