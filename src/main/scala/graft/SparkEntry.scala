package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every operator family contributes a `queries` map (Spark plan) and an
  * `oracleSql` map (DuckDB-equivalent SQL over the same parquet tables);
  * names and output column names are aligned pairwise.
  */
object SparkEntry {

  /** The local session every main (Bench, Verify, Cli, Explain, ScaleUp)
    * runs on: `local[cpus]` with `cpus` shuffle partitions, UTC, no UI,
    * WARN logs, then [[applyConfOverrides]]. AQE is on by default and its
    * initial partition count defaults to the shuffle partitions, so no
    * main needs a different session.
    */
  def session(): SparkSession = {
    val n = cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    applyConfOverrides(s)
    s
  }

  /** Worker threads for [[session]]: `SPARK_GRAFT_CPUS`, or the host's core
    * count when unset. Anything but a positive integer fails naming the
    * variable.
    */
  private[graft] def cpus(spec: Option[String]): Int = spec match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** Runtime conf overrides for every main's session ([[session]]):
    * `SPARK_GRAFT_CONF="k=v;k2=v2"` sets each entry on the session, e.g.
    * `graft.cc.driver_max_edges=0` runs a distributed fallback, or
    * `graft.vocab_broadcast.max_corpus_bytes=1` the unbounded-corpus plans,
    * without a code edit. A malformed entry fails loudly.
    */
  def applyConfOverrides(spark: SparkSession,
      spec: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): Unit =
    spec.foreach(_.split(';').filter(_.nonEmpty).foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entries must be k=v, got '$kv'")
      }
    })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    QueriesTpch.queries("q5_region")(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (QueriesTpch.queries, QueriesTpch.oracleSql),
      (QueriesSources.queries, QueriesSources.oracleSql),
      (QueriesPreprocess.queries, QueriesPreprocess.oracleSql),
      (QueriesOrdered.queries, QueriesOrdered.oracleSql),
      (QueriesCompose.queries, QueriesCompose.oracleSql),
      (QueriesAssembly.queries, QueriesAssembly.oracleSql),
      (QueriesLlm.queries, QueriesLlm.oracleSql),
      (QueriesCorpus.queries, QueriesCorpus.oracleSql),
      (QueriesCrawl.queries, QueriesCrawl.oracleSql),
      (QueriesCuration.queries, QueriesCuration.oracleSql),
      (QueriesServe.queries, QueriesServe.oracleSql),
      (QueriesPipeline.queries, QueriesPipeline.oracleSql),
      (QueriesMining.queries, QueriesMining.oracleSql),
      (QueriesUnigram.queries, QueriesUnigram.oracleSql),
      (QueriesStreaming.queries, QueriesStreaming.oracleSql)
    )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** DuckDB-runnable twin of each query (omitted → rows-only check). */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
