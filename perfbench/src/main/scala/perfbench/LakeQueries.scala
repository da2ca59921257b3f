package perfbench

import graft.SparkEntry
import graft.ops.Layout
import graft.ops.Layout.ColPred
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._

/** Read-only closed loop over an sf0.1-shaped lake: one client, the next
  * query is sent when the previous one has returned. A pass is the whole
  * seeded mix of relational queries and pruned lineitem lookups, in an
  * order shuffled per pass. Each result is collected and its digest checked
  * against DuckDB's, computed once in set-up.
  */
object LakeQueries extends Workload {

  private def queries(ctx: Ctx) = ctx.expected.get("queries").fieldNames().asScala.toSeq.sorted
  private def lookups(ctx: Ctx) = ctx.expected.get("lookups").elements().asScala.toSeq
  private def laidOut(ctx: Ctx) = s"${ctx.input}/lineitem_laid_out"
  private var filesTotal = 0
  private lazy val declared = SparkEntry.queries

  def items(ctx: Ctx): Long = queries(ctx).size + lookups(ctx).size

  /** The generator writes lineitem range-clustered on the order key; set-up
    * lays it out with a stats manifest on (l_orderkey, l_shipdate) and a
    * Bloom manifest on l_partkey.
    */
  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = laidOut(ctx)
    Layout.writeManifest(spark, dir, Seq("l_orderkey", "l_shipdate"))
    Layout.writeBloomManifest(spark, dir, "l_partkey", expectedPerFile = 16384L,
      numBits = 1L << 17)
    filesTotal = spark.read.parquet(dir).inputFiles.length
  }

  private def summary(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))

  def pass(ctx: Ctx, index: Int): Unit = {
    val spark = ctx.spark
    val ops = queries(ctx).map(q => Left(q)) ++ lookups(ctx).map(l => Right(l))
    val rng = new scala.util.Random(ctx.seed * 1000003L + index)
    rng.shuffle(ops).foreach {
      case Left(q) =>
        val (schema, rows) = ctx.span("relational", q) {
          val df = declared(q)(spark, ctx.input)
          (df.schema, df.collect())
        }
        val want = ctx.expected.get("queries").get(q)
        ctx.check("relational", q, Digest.of(schema, rows) == want.get("sha256").asText,
          s"${rows.length} rows, DuckDB has ${want.get("rows").asLong}")
      case Right(l) =>
        val name = l.get("name").asText
        val (df, rows) = ctx.span("layout", name) {
          val df =
            if (l.has("orderkeys"))
              Layout.readPrunedPoint(spark, laidOut(ctx), "l_orderkey",
                l.get("orderkeys").elements().asScala.map(_.asLong).toSeq)
            else
              Layout.readPrunedWhere(spark, laidOut(ctx), Seq(
                ColPred.Range("l_orderkey", lit(l.get("orderkey_lo").asLong),
                  lit(l.get("orderkey_hi").asLong)),
                ColPred.In("l_partkey",
                  l.get("partkeys").elements().asScala.map(_.asLong).toSeq)))
          (df, summary(df).collect())
        }
        ctx.check("layout", name,
          Digest.of(summary(df).schema, rows) == l.get("sha256").asText,
          s"lookup summary ${rows.mkString} differs from DuckDB's")
        ctx.gauge("layout.files_scanned_ratio",
          df.inputFiles.length.toDouble / math.max(1, filesTotal))
    }
  }
}
