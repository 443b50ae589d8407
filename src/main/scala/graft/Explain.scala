package graft

/** Plan-audit main: prints the formatted physical plan of selected queries
  * (all, or those named in args) so shuffle counts, PushedFilters, broadcast
  * joins, and WholeStageCodegen spans can be inspected.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_CONF lets a plan dump disable the driver gates to show
    // the distributed shape, e.g. graft.cc.driver_max_edges=0
    val spark = SparkEntry.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
