package graft

/** Dev tool: dump formatted physical plans for named queries.
  * Usage: runMain graft.Explain <sfDir> <query...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q5_local_supplier", "q3_shipping_priority")
    val spark = DevSession()
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
