package graft
/** Dev tool: dump formatted plans for selected queries. To compare
  * plan text, dump q83 and q98 each in its own JVM: their distinct-
  * aggregate `Expand` orders grouping sets by expression hash, which
  * moves with the queries built before them. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    args(0).split(",").foreach { q =>
      println(s"========== $q ==========")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
