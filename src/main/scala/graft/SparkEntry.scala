package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A module's part of the query registry: its entries and the DuckDB
  * oracles for those of them that have one. */
trait Registry {
  type Q = SparkEntry.Q
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator from SURVEY.md §2 (plus
  * the LLM-data-pipeline extensions). Each takes (spark, sfDir) and reads
  * only the sfDir parquet tables. `oracleSql`: DuckDB-runnable ANSI SQL
  * over the same tables, hash-compared by the driver; omitted for non-SQL
  * ops.
  */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("churn_wide_table")(spark, "/root/testdata/sf0.001")

  private[graft] val modules: Seq[Registry] = Seq(
    graft.queries.Analytics,
    graft.queries.Relational,
    graft.queries.Churn,
    graft.ml.ChurnML,
    graft.llm.TextOps,
    graft.llm.Bpe,
    graft.llm.Retrieval,
    graft.llm.CorpusPipeline,
    graft.llm.Dedup,
    graft.llm.Similarity,
    graft.llm.EventWindows,
    graft.llm.TemporalJoins,
    graft.encode.FeatIndex,
    graft.encode.Encoders,
    graft.io.Sinks,
    graft.io.Layout,
    graft.llm.Multimodal,
    graft.eval.Metrics,
    graft.streaming.StreamingWindows)

  /** Unions the modules' maps. Fails if two modules declare one key or an
    * oracle names no query. */
  private[graft] def merge(
      modules: Seq[Registry]): (Map[String, Q], Map[String, String]) = {
    def union[V](what: String,
                 maps: Seq[(Registry, Map[String, V])]): Map[String, V] = {
      val dups = maps.flatMap { case (m, kv) => kv.keys.map(_ -> m) }
        .groupMap(_._1)(_._2.getClass.getName.stripSuffix("$"))
        .collect { case (k, ms) if ms.size > 1 => s"$k (${ms.mkString(", ")})" }
      require(dups.isEmpty,
        s"$what keys declared by more than one module: " +
          dups.toSeq.sorted.mkString("; "))
      maps.flatMap(_._2).toMap
    }
    val qs = union("query", modules.map(m => m -> m.queries))
    val os = union("oracle", modules.map(m => m -> m.oracles))
    val orphans = os.keySet -- qs.keySet
    require(orphans.isEmpty,
      "oracles that name no query: " + orphans.toSeq.sorted.mkString(", "))
    (qs, os)
  }

  val (queries, oracleSql) = merge(modules)
}
