package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every family module once, in docs/OPERATORS.md section order. */
  private def registry: Seq[Entry] =
    ParityQueries.queries ++ RelationalQueries.queries ++ GraphQueries.queries ++
      DedupQueries.queries ++ AnnQueries.queries ++
      TextSignalQueries.queries ++ CurationQueries.queries ++
      CorpusStatsQueries.queries ++ EvalMetricQueries.queries ++
      MultimodalQueries.queries ++
      StorageLayoutQueries.queries ++ StatTestQueries.queries ++
      CorpusAuditQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_join_agg")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, fn, _) => n -> fn }.toMap

  /** Test hook (RegistrySpec): (total entries, distinct names). The
    * public Map would silently collapse a duplicate name — the later
    * entry wins and the earlier query drops out of the gate — so the
    * integrity spec checks the raw sequence.
    */
  private[graft] def registrySize: (Int, Int) =
    (registry.size, registry.map(_._1).distinct.size)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql.trim }.toMap
}
