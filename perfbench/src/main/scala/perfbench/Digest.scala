package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent digest of a collected result, the Scala twin of
  * `digest_table` in inputs.py: columns sorted by name, each cell in
  * canonical text, rows sorted, the whole hashed with SHA-256.
  */
object Digest {

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => double(x.doubleValue)
    case x: scala.math.BigDecimal => double(x.toDouble)
    case x: java.sql.Timestamp =>
      (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case x: java.time.Instant => (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case x => x.toString
  }

  private def double(x0: Double): String = {
    val x = if (x0 == 0.0) 0.0 else x0
    if (!x.isNaN && !x.isInfinite && math.floor(x) == x && math.abs(x) < 9007199254740992.0)
      x.toLong.toString
    else java.lang.Double.doubleToRawLongBits(x).toString
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => canon(r.get(i)) }.mkString("\u001f"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update((order.map(_._1).mkString(",") + "\n").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** SHA-256 of lines, sorted first: the generator's `_sha`. */
  def ofLines(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
