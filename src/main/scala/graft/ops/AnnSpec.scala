package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Transform stage of an [[AnnSpec]]: the linear map both the corpus and
  * the queries pass through before cell probing and coding. The exact
  * rerank always runs on the original vectors.
  */
sealed trait AnnTransform
object AnnTransform {
  case object Identity extends AnnTransform
  /** Random ±1 Johnson–Lindenstrauss sheet, 64 → 16 dims (a literal). */
  case object Jl extends AnnTransform
  /** Learned PCA basis (model part: [[Similarity.trainPca]] output). */
  case object Pca extends AnnTransform
  /** Learned OPQ rotation (model part: the rotation of
    * [[Similarity.trainOpq]]).
    */
  case object Opq extends AnnTransform
}

/** Code stage of an [[AnnSpec]]: how candidates are scored before the
  * shortlist.
  */
sealed trait AnnCode
object AnnCode {
  /** Float cosine over the (transformed) vectors. */
  case object Flat extends AnnCode
  /** Random-hyperplane buckets: candidates share a bucket in ≥1 table. */
  final case class Lsh(tables: Int = Similarity.DefaultTables,
      bits: Int = Similarity.DefaultBits) extends AnnCode
  /** Per-vector symmetric int8, scored by the exact integer dot. */
  case object Int8 extends AnnCode
  /** Product quantization, scored by asymmetric table lookups (ADC). */
  case object Pq extends AnnCode
  /** PQ over x − centroid(cell); needs IVF. */
  case object ResidualPq extends AnnCode
}

/** One ANN index shape as a pipeline: transform → optional IVF cell
  * probing (`nprobe` nearest cells per query) → code scoring → `shortlist`
  * per query → exact float-cosine rerank. A flat code with no transform
  * is already exact, so it skips the shortlist and the rerank.
  *
  * @param filter    pre-filter predicate over the `embeddings` table: only
  *   matching vectors are eligible neighbors. Models are never trained on
  *   the filtered set; the filter restricts the encoded corpus.
  * @param maxBatchQ ADC query-batch chunk bound (PQ codes only).
  */
final case class AnnSpec(
    transform: AnnTransform = AnnTransform.Identity,
    nprobe: Option[Int] = None,
    code: AnnCode = AnnCode.Flat,
    shortlist: Int = 100,
    filter: Option[Column] = None,
    maxBatchQ: Int = Similarity.MaxAdcBatchQ) {

  /** The corpus, scored flat, is the answer: no shortlist, no rerank. */
  def exact: Boolean = code == AnnCode.Flat && transform == AnnTransform.Identity

  def filtered(pred: Column): AnnSpec = copy(filter = Some(pred))

  /** The index shape as `key=value` pairs — transform, `nprobe` (absent
    * without IVF) and code, LSH geometry included; the serving knobs
    * (`shortlist`, `filter`, `maxBatchQ`) are not part of a shape.
    */
  def stamp: Seq[(String, String)] = {
    val code = this.code match {
      case AnnCode.Lsh(tables, bits) =>
        Seq("code" -> "lsh", "lsh_tables" -> tables.toString,
          "lsh_bits" -> bits.toString)
      case c => Seq("code" -> AnnSpec.name(c))
    }
    (("transform" -> AnnSpec.name(transform)) +: code) ++
      nprobe.map(n => "nprobe" -> n.toString)
  }
}

/** The index shapes graft serves — every declared `ann_*` top-k query is
  * one of these with a model source.
  */
object AnnSpec {
  private val Probe = Some(Similarity.NProbe)

  val Exact = AnnSpec()
  val Lsh = AnnSpec(code = AnnCode.Lsh())
  val Ivf = AnnSpec(nprobe = Probe)
  val Jl = AnnSpec(transform = AnnTransform.Jl, shortlist = 50)
  val Pca = AnnSpec(transform = AnnTransform.Pca, shortlist = 50)
  val Int8 = AnnSpec(code = AnnCode.Int8, shortlist = 50)
  val Int8Ivf = AnnSpec(nprobe = Probe, code = AnnCode.Int8, shortlist = 50)
  val Pq = AnnSpec(code = AnnCode.Pq)
  val Opq = AnnSpec(transform = AnnTransform.Opq, code = AnnCode.Pq)
  val Ivfpq = AnnSpec(nprobe = Probe, code = AnnCode.Pq)
  val IvfpqResidual = AnnSpec(nprobe = Probe, code = AnnCode.ResidualPq)
  val OpqIvfpq = Opq.copy(nprobe = Probe)
  val OpqIvfpqResidual = IvfpqResidual.copy(transform = AnnTransform.Opq)

  // a stage's stamp name: its case-object name in snake case
  private def name(stage: Any): String =
    stage.toString.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase

  /** The shape [[AnnSpec.stamp]] wrote, with default serving knobs. */
  def fromStamp(kv: Map[String, String]): AnnSpec = {
    def field(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"ANN spec stamp without '$k': $kv"))
    def named[T](k: String, all: Seq[T]): T = {
      val v = field(k)
      all.find(name(_) == v).getOrElse(
        throw new IllegalArgumentException(s"ANN spec stamp: unknown $k '$v'"))
    }
    val code = if (field("code") == "lsh")
        AnnCode.Lsh(field("lsh_tables").toInt, field("lsh_bits").toInt)
      else named[AnnCode]("code",
        Seq(AnnCode.Flat, AnnCode.Int8, AnnCode.Pq, AnnCode.ResidualPq))
    AnnSpec(named[AnnTransform]("transform", Seq(AnnTransform.Identity,
        AnnTransform.Jl, AnnTransform.Pca, AnnTransform.Opq)),
      kv.get("nprobe").map(_.toInt), code)
  }

  /** The gate's metadata predicate: even labels. */
  def evenLabel: Column = col("label") % 2 === 0
}

/** Fed model parts of an [[AnnSpec]]; any part left empty is trained (or,
  * for `codes`, encoded) inline. `transform` is the PCA basis or OPQ
  * rotation frame, `centroids` the IVF coarse quantizer, `codebooks` the
  * PQ codebooks, and `codes` the encoded corpus in the spec's code space
  * (the int8 codes, the JL-projected vectors, or — for PQ codes under IVF
  * — the [[Similarity.buildIvfpqIndex]] table). Fed parts must come from
  * one build: codes encode against a specific transform and model pair.
  */
final case class AnnModel(
    transform: Option[DataFrame] = None,
    centroids: Option[DataFrame] = None,
    codebooks: Option[DataFrame] = None,
    codes: Option[DataFrame] = None)

/** Where a declared tier's [[AnnModel]] comes from: trained inline, or the
  * session's persisted index read back as models only (fed) or as models
  * plus encoded corpus (indexed).
  */
private[graft] sealed trait AnnSource
private[graft] object AnnSource {
  case object Inline extends AnnSource
  case object Fed extends AnnSource
  case object Indexed extends AnnSource
}
