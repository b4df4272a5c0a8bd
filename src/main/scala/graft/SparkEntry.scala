package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: the query and, where the result is SQL-checkable,
  * its DuckDB oracle. */
final case class Op(name: String, run: SparkEntry.Q,
                    oracle: Option[String] = None)

/** A module's part of the query registry. */
trait Registry {
  type Q = SparkEntry.Q
  def ops: Seq[Op]
}

/** The query registry (SURVEY.md §7), derived from the modules' [[Op]]s.
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

  /** The modules' entries, in module order. Fails if a name is declared
    * more than once. */
  private[graft] def merge(modules: Seq[Registry]): Seq[Op] = {
    val dups = modules.flatMap(m => m.ops.map(_.name -> m))
      .groupMap(_._1)(_._2.getClass.getName.stripSuffix("$"))
      .collect { case (k, ms) if ms.size > 1 => s"$k (${ms.mkString(", ")})" }
    require(dups.isEmpty,
      "query keys declared more than once: " + dups.toSeq.sorted.mkString("; "))
    modules.flatMap(_.ops)
  }

  private[graft] val ops: Seq[Op] = merge(modules)

  /** Every entry's query by name (a `Map[String, Q]`). */
  val queries = ops.map(o => o.name -> o.run).toMap

  /** The oracle of every entry that has one, by name. */
  val oracleSql: Map[String, String] =
    ops.flatMap(o => o.oracle.map(o.name -> _)).toMap
}
