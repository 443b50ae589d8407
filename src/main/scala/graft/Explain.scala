package graft

import org.apache.spark.sql.SparkSession

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
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // lets a plan dump disable the driver gates to show the distributed
    // shape, e.g. SPARK_GRAFT_CONF=graft.cc.driver_max_edges=0
    SparkEntry.applyConfOverrides(spark)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
