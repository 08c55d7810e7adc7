package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {

  /** A query body: (session, parquet table dir) => result. */
  type QFn = (SparkSession, String) => DataFrame

  /** One registry entry: name, body, and the DuckDB oracle SQL (if any). */
  type Entry = (String, QFn, Option[String])
}
