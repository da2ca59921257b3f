package perfbench

import graft.ops.{Curation, Dedup, Similarity, TextAnalysis}
import scala.jdk.CollectionConverters._

/** The training-data funnel over a seeded corpus: curation (quality gate,
  * exact and near dedup, decontamination, packing), tf-idf, semantic
  * dedup over the embeddings, and IVF-PQ retrieval for a query batch scored
  * against the generator's exact search.
  */
object CorpusCuration extends Workload {

  val AnnCall = "ivfpqTopkForQueries"

  def items(ctx: Ctx): Long = ctx.expected.get("docs").asLong

  private def ids(ctx: Ctx, key: String): Set[Long] =
    ctx.expected.get(key).elements().asScala.map(_.asLong).toSet

  def pass(ctx: Ctx, index: Int): Unit = {
    val spark = ctx.spark
    val dir = ctx.input
    val docs = items(ctx)
    val packed = ctx.span("curation", "prepareCorpus") {
      Curation.prepareCorpus(spark, dir).select("doc_id", "shard").collect()
    }
    val kept = packed.map(_.getLong(0)).toSet
    val injected = ids(ctx, "exact_dup_ids") ++ ids(ctx, "contaminated_ids")
    val leaked = injected.intersect(kept)
    ctx.check("curation", "injected_ids_removed", leaked.isEmpty,
      s"${leaked.size} injected duplicate/contaminated ids survived, e.g. ${leaked.take(5)}")
    val benchLeaked = kept.count(_ % 11 == 0)
    ctx.check("curation", "benchmark_docs_removed", benchLeaked == 0,
      s"$benchLeaked benchmark documents in the training output")
    val ceiling = docs - ctx.expected.get("benchmark_ids").asLong - injected.size
    ctx.check("curation", "output_size", kept.size > ceiling / 2 && kept.size <= ceiling,
      s"${kept.size} documents kept, expected between ${ceiling / 2} and $ceiling")

    val terms = ctx.span("textanalysis", "tfIdf") {
      TextAnalysis.tfIdf(spark, dir).select("doc_id", "rk").collect()
    }
    val perDoc = terms.groupBy(_.getLong(0))
    ctx.check("textanalysis", "top3_per_doc",
      perDoc.size == docs && perDoc.values.forall(_.length <= 3),
      s"${perDoc.size} documents scored of $docs")

    val pairs = ctx.span("dedup", "semantic") {
      Dedup.semantic(spark, dir).select("v1", "v2").collect()
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = ctx.expected.get("vector_dup_pairs").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
    val found = planted.count(pairs.contains)
    ctx.check("dedup", "planted_pairs_found", found >= planted.size * 9 / 10,
      s"$found of ${planted.size} planted near-copy pairs found")

    val queries = spark.read.parquet(s"$dir/queries.parquet")
    val ann = ctx.span("similarity", AnnCall) {
      Similarity.ivfpqTopkForQueries(spark, dir, queries)
        .select("query_id", "neighbor_id").collect()
    }
    // exact top-k per query, computed by the generator
    val truth = ctx.expected.get("exact_topk").elements().asScala.flatMap { q =>
      val qid = q.get(0).asLong
      q.get(1).elements().asScala.map(n => (qid, n.asLong))
    }.toSet
    val k = ctx.expected.get("k").asInt
    val perQuery = ann.groupBy(_.getLong(0)).values.map(_.length)
    ctx.check("similarity", "ann_topk_shape",
      ann.map(_.getLong(0)).toSet.size == ctx.expected.get("queries").asLong &&
        perQuery.forall(_ <= k),
      s"ANN returned row counts ${perQuery.toSet} per query for ${perQuery.size} queries")
    val recall = ann.count(r => truth((r.getLong(0), r.getLong(1)))).toDouble /
      math.max(1, truth.size)
    ctx.gauge("similarity.recall_at_k", recall)
    ctx.gauge("similarity.ann_results", ann.length)
    ctx.check("similarity", "recall_floor", recall >= RecallFloor,
      f"recall@k $recall%.3f below $RecallFloor")
  }

  val RecallFloor = 0.5
}
