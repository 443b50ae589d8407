package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every operator family contributes a `queries` map (Spark plan) and an
  * `oracleSql` map (DuckDB-equivalent SQL over the same parquet tables);
  * names and output column names are aligned pairwise.
  */
object SparkEntry {

  /** Runtime conf overrides for the mains (Bench, Verify, Explain):
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
