package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the engine's capability inventory from the per-capability
  * query modules under `graft.queries`. Every entry pairs a Spark-native
  * implementation with (where SQL-expressible) a DuckDB oracle.
  */
object SparkEntry {

  private lazy val modules: Seq[QueryDef] = {
    import _root_.graft.queries._
    unique(
      Tpch.defs ++
        Tpcds.defs ++
        SsbCorpus.defs ++
        Aggregation.defs ++
        Windows.defs ++
        SetOpsSubqueries.defs ++
        Behavioral.defs ++
        BitmapsSketches.defs ++
        Statistics.defs ++
        TextSimilarity.defs ++
        Dialect.defs ++
        StreamingStorage.defs)
  }

  /** `defs` unchanged, or an error naming every query name defined more
    * than once: a name maps to one query, and `toMap` would silently keep
    * the last definition.
    */
  private[graft] def unique(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val clashes = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(clashes.isEmpty,
      s"query names defined more than once: ${clashes.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val byName = modules.map(d => d.name -> d).toMap
    byName("q5_region_revenue").run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(d => d.oracle.map(o => d.name -> o.stripMargin.trim)).toMap
}
