package perfbench

/** Prints the full catalog name of each entry id given: `Entries q01,qt18`. */
object Entries {
  def main(args: Array[String]): Unit = {
    val names = graft.SparkEntry.queries.keys
    args.head.split(",").foreach { id =>
      println(names.find(_.takeWhile(_ != '_') == id)
        .getOrElse(sys.error(s"unknown catalog entry $id")))
    }
  }
}
