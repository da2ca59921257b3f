package perfbench

/** Runs [[Main]] once per `--next`-separated argument group, in one JVM: the
  * build records a single class-data archive covering every workload.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val groups = args.foldLeft(List(List.empty[String])) {
      case (acc, "--next") => Nil :: acc
      case (acc, a) => (a :: acc.head) :: acc.tail
    }
    groups.reverse.map(_.reverse).foreach(g => Main.main(g.toArray))
  }
}
