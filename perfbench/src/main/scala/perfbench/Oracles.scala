package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Prints graft's declared DuckDB oracle SQL, by query name, as one JSON
  * object; the build step stores it for the input generator.
  */
object Oracles {
  def main(args: Array[String]): Unit = {
    val out = new ObjectMapper().createObjectNode()
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => out.put(k, v) }
    println(out.toString)
  }
}
