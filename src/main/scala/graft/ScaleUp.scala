package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-point generator: replicates an sf testdata directory `factor`× with
  * disjoint key spaces, so bench can take a 10× point (sf1 from sf0.1)
  * without new driver data. Each replica shifts every entity key by
  * i × 10^7 — far above any source key — which preserves join integrity
  * (orders→customer, lineitem→orders/part/supplier, events→customer) while
  * multiplying every fact and dimension cardinality by `factor`. The fixed
  * nation/region dims copy verbatim, mirroring TPC-H's own scaling rule.
  *
  * Usage: runMain graft.ScaleUp [srcSfDir] [outDir] [factor]
  */
object ScaleUp {

  private val Offset = 10000000L

  /** Per-table long key columns to shift per replica. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private[graft] def replicate(df: DataFrame, keys: Seq[String], factor: Int): DataFrame = {
    val spark = df.sparkSession
    // one pass over the source: broadcast the tiny replica frame, shift keys.
    // The source sf dir stores each table as ONE parquet file, so without a
    // pre-spread the whole factor-x generation would run as a single task
    // (measured: 600M lineitem rows on one core at factor 1000); spreading
    // the SMALL base first makes generation and the direct write parallel,
    // and no post-generation shuffle of the big output is ever needed.
    val replicas = broadcast(spark.range(factor).toDF("__replica"))
    val spread = df.repartition(32)
    keys.foldLeft(spread.crossJoin(replicas)) { (acc, k) =>
      acc.withColumn(k, col(k) + col("__replica") * Offset)
    }.drop("__replica")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "data/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SparkEntry.session()

    Seq("region", "nation").foreach { t =>
      graft.sources.Tables.table(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: copied")
    }
    keyCols.toSeq.sortBy(_._1).foreach { case (t, keys) =>
      // events goes through Tables.events so the NANOS ts lands as a plain
      // µs timestamp in the scaled copy (Tables.events handles both on read)
      val base =
        if (t == "events") graft.sources.Tables.events(spark, src)
        else graft.sources.Tables.table(spark, src, t)
      // the pre-spread inside replicate already yields 32 generator tasks
      // writing 32 files — the scaled scan parallelizes with no extra
      // shuffle of the factor-x output
      val scaled = replicate(base, keys, factor)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
