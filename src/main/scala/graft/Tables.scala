package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Typed access to the driver's parquet tables under one sf directory.
  *
  * Every read is [[Inputs.parquet]]: the frame `spark.read.parquet` would
  * plan, so Catalyst keeps full pushdown and pruning freedom, and no data
  * is cached. Only the inferred schema is memoized, per session, keyed on
  * the table's qualified path and a stamp of its file listing (file count,
  * newest mtime, total length, a hash of the file names), so a table read
  * again pays no schema-inference job and a rewritten one is re-inferred.
  * At 100 TB these are partitioned parquet lakes; the same accessors work
  * unchanged.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Inputs.parquet(spark, s"$dir/$name.parquet")
  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame     = Tables.tsToNanos(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Register every table as a temp view so pure-SQL users can
    * `spark.sql("SELECT ... FROM lineitem ...")` directly.
    */
  def registerViews(): Unit = Tables.names.foreach(n => t(n).createOrReplaceTempView(n))
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver's events table has shipped `ts` as parquet TIMESTAMP(NANOS)
    * (read as nanos-epoch LongType under `nanosAsLong`) in some testdata
    * generations and TIMESTAMP(MICROS) (read as timestamp/timestamp_ntz) in
    * others. Normalize to nanos-epoch LongType at the read boundary so every
    * downstream integer-time expression (`ts div 1e9` floor-seconds etc.) is
    * generation-independent. The timestamp cast resolves through the UTC
    * session zone — the same instant DuckDB's `epoch_ms` sees — and
    * `unix_micros * 1000` stays in exact long arithmetic (a double epoch
    * would lose sub-micro precision past 2^53).
    */
  def tsToNanos(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case _ => df.withColumn("ts", nanosCol(col("ts")))
    }

  /** Nanos-epoch long from any timestamp-typed column (UTC session zone). */
  def nanosCol(ts: Column): Column = unix_micros(ts.cast(TimestampType)) * 1000L
}
