package graft.cli

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Exclusion
import graft.config.GraftConfig
import graft.ddlgen.DdlGen
import graft.transform.ValueTransforms
import graft.types.{ColumnMeta, TypeMapper}
import graft.verify.CompareDb

/** The full-migration pipeline (cmd/root.go:60-213 `mysql2pg`) as phased
  * Spark jobs. Phases are sequential (as in the reference); WITHIN a phase
  * the per-table work runs concurrently on a bounded worker pool — the
  * reference's maxParallel goroutine semaphore (root.go:106-117,138-150)
  * — so a catalog of many small tables overlaps its Spark jobs instead of
  * serializing one job per table through the driver. Per-phase failure
  * totals (A4, root.go:166-209) are collected from Try results instead of
  * a channel-fed counter loop.
  *
  * I/O is abstracted so the same pipeline runs against live JDBC endpoints
  * (io.Jdbc) or test fixtures: `CatalogSource` supplies the
  * information_schema-shaped DataFrames (S3-S10), `MigrationSink` accepts
  * DDL and table data (K1/K2).
  */
object Migration {

  /** information_schema-shaped inputs (SURVEY §2.1 S3-S10). */
  trait CatalogSource {
    def tableNames: Seq[String]
    def columns(table: String): Seq[ColumnMeta]
    def tableData(table: String): DataFrame
    /** Custom-SQL extraction for tables configured under `tables:`
      * (root.go:97-98): each SQL is one extraction unit. Default ignores
      * the SQLs (fixture sources); JDBC sources run them. */
    def tableData(table: String, customSqls: Seq[String]): DataFrame =
      tableData(table)
    def statistics: DataFrame       // S7 shape: table/index/non_unique/seq/col/type
    def foreignKeys: (DataFrame, DataFrame) // S8: (key_column_usage, referential_constraints)
    def autoIncrements: DataFrame   // S6 shape: table_name/column_name/auto_increment
    def views: DataFrame            // S9 shape: table_name/view_definition
    def triggers: DataFrame         // S10 shape: trigger_name/action_statement
  }

  /** Target-side effects (K1 bulk load, K2 DDL executor). */
  trait MigrationSink {
    def executeDdl(sql: String): Try[Unit]
    def writeTable(table: String, df: DataFrame): Try[Long]
    def rowCount(table: String): Option[Long]
  }

  case class PhaseResult(phase: String, objects: Long, failed: Long, elapsedMs: Long)

  final class Runner(spark: SparkSession, cfg: GraftConfig,
                     source: CatalogSource, sink: MigrationSink,
                     failureLog: Option[FailureLog] = None) {
    private val results = mutable.ArrayBuffer[PhaseResult]()

    private def phase(name: String)(body: => (Long, Long)): Unit = {
      val t0 = System.nanoTime()
      val (objects, failed) = body
      results += PhaseResult(name, objects, failed, (System.nanoTime() - t0) / 1000000)
    }

    /** Execute DDLs with failure counting (A4) and K3 artifact capture:
      * each failed statement lands verbatim in `<logName>.log` so the tail
      * of a failed run is replayable from the artifact alone. */
    private def execAll(ddls: Seq[String], logName: String): (Long, Long) = {
      var failed = 0L
      ddls.foreach { sql =>
        sink.executeDdl(sql) match {
          case Failure(e) =>
            failed += 1
            failureLog.foreach(_.logError(logName, sql, String.valueOf(e.getMessage)))
          case Success(_) => ()
        }
      }
      (ddls.size.toLong, failed)
    }

    /** Bounded concurrent map over per-table work — the reference's
      * maxParallel goroutine semaphore (root.go:106-117,138-150) as a
      * fixed thread pool submitting Spark jobs concurrently. Each worker
      * thread pins its jobs to a named scheduler pool (under FAIR mode
      * tables share executors evenly; local FIFO still overlaps jobs
      * submitted from distinct threads) and to the graft job group so one
      * cancel stops every in-flight table. Results keep `items` order. */
    private def runConcurrently[A, B](items: Seq[A], poolName: String)(f: A => B): Seq[B] =
      if (items.isEmpty) Seq.empty
      else {
        val parallelism = math.max(1, math.min(cfg.maxParallel, items.size))
        val exec = Executors.newFixedThreadPool(parallelism, (r: Runnable) => {
          val t = new Thread(r, s"graft-$poolName-worker")
          t.setDaemon(true); t
        })
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(exec)
        try {
          val futures = items.map { item =>
            Future {
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", poolName)
              spark.sparkContext.setJobGroup(Cancellation.GroupId,
                s"graft $poolName", interruptOnCancel = true)
              f(item)
            }
          }
          Await.result(Future.sequence(futures), Duration.Inf)
        } finally exec.shutdownNow()
      }

    /** Work list: configured custom tables, else full catalog minus
      * exclusions (fetchTableMap, root.go:218-291). Exclusion matching is
      * a compiled driver-side predicate — table names are metadata, not
      * data, so this runs zero Spark jobs regardless of catalog size.
      *
      * Exclusion applies ONLY to the full-catalog scan: the reference
      * filters inside fetchTableMap (root.go:227-246) but takes -s /
      * `tables:` names verbatim (root.go:97) — an explicitly configured
      * table is never silently dropped by an exclude pattern. */
    def workList: Seq[String] =
      if (cfg.selFromYml || cfg.tables.nonEmpty) cfg.tables.keys.toSeq.sorted
      else source.tableNames.filter(Exclusion.compiledKeep(cfg.exclude)).sorted

    /** Phase 1: CREATE TABLE on the target, one concurrent worker per
      * table (`go db.TableCreate`, tablemeta.go:48-154; pool root.go:138-150).
      * Drop failures are not counted (the reference ignores them — the
      * table may simply not exist yet); create failures are. */
    def tableStructure(): Unit = phase("TableStructure") {
      val wl = workList
      val outcomes = runConcurrently(wl, "graft-ddl") { t =>
        // Try-wrapped end to end: a table whose catalog read blows up is
        // ONE failure in the report, not the death of the phase
        Try {
          sink.executeDdl(s"""drop table if exists "${t.toLowerCase}" cascade""") // root.go:142
          TypeMapper.createTableDdl(t, source.columns(t),
            cfg.charInLength, cfg.useNvarchar2)
        } match {
          case Failure(ex) => // catalog read / DDL generation failed
            failureLog.foreach(
              _.logError(FailureLog.TableCreateFailed, t, String.valueOf(ex.getMessage)))
            Failure(ex)
          case Success(ddl) =>
            val r = sink.executeDdl(ddl)
            r.failed.foreach(ex => failureLog.foreach( // tablemeta.go:150
              _.logError(FailureLog.TableCreateFailed, ddl, String.valueOf(ex.getMessage))))
            r
        }
      }
      (wl.size.toLong, outcomes.count(_.isFailure).toLong)
    }

    /** Phase 2: row data — transform stack (§1.2) + bulk write, tables
      * in flight concurrently up to maxParallel (preMigData +
      * go runMigration, root.go:294-516). Each table's read→transform→
      * write is one Spark job chain; overlapping them keeps the cluster
      * busy when individual tables are too small to fill it. */
    def tableData(): Unit = phase("TableData") {
      val wl = workList
      val outcomes = runConcurrently(wl, "graft-data") { t =>
        // Try covers the source read and sample too: a table that fails
        // to READ is one counted+logged failure (root.go:476-494 logs and
        // continues), never the death of the other in-flight tables
        val r = Try {
          val raw = ValueTransforms.lowercaseColumns(
            source.tableData(t, cfg.tables.getOrElse(t, Nil)))
          if (cfg.logInvalidData)
            failureLog.foreach(logInvalidSample(_, t, raw)) // root.go:450-470
          ValueTransforms.scrubNulAll(raw)
        }.flatMap(df => sink.writeTable(t.toLowerCase, df))
        r.failed.foreach { e => // root.go:476-477
          failureLog.foreach { fl =>
            fl.logLine(FailureLog.FailedTable, t)
            fl.logError(FailureLog.ErrorTableData, t, String.valueOf(e.getMessage))
          }
        }
        r
      }
      (wl.size.toLong, outcomes.count(_.isFailure).toLong)
    }

    /** Bounded NUL-scrub capture (root.go:450-470 logs each affected value
      * to invalidTableData.log): filter + limit early-exits the scan, so
      * the artifact costs at most one short job per table and never an
      * unbounded collect. */
    private def logInvalidSample(fl: FailureLog, table: String, raw: DataFrame): Unit = {
      val stringCols = raw.schema.fields
        .filter(_.dataType.typeName == "string").map(_.name)
      if (stringCols.nonEmpty) {
        val anyNul = stringCols.map(c => ValueTransforms.hasNul(col(c))).reduce(_ || _)
        raw.filter(anyNul).limit(FailureLog.InvalidSampleLimit).collect().foreach { row =>
          stringCols.foreach { c =>
            val v = row.getAs[String](c)
            if (v != null && v.indexOf('\u0000') >= 0)
              fl.logError(FailureLog.InvalidTableData, // root.go:466 shape
                s"[Warning] invalid string found ! tableName:$table column value:[" +
                  v.replace("\u0000", "") + s"] columnName:[$c]", "NUL scrubbed")
          }
        }
      }
    }

    /** Phase 3-6: DDL objects regenerated as DataFrame pipelines (S6-S10)
      * then executed statement-by-statement with failure counting. */
    def sequences(): Unit = phase("Sequence") {
      val rows = DdlGen.sequenceDdl(source.autoIncrements).collect()
      execAll(rows.flatMap(r => Seq(r.getAs[String]("drop_ddl"),
        r.getAs[String]("create_ddl"), r.getAs[String]("default_ddl"))).toSeq,
        FailureLog.SeqCreateFailed)
    }

    def indexes(): Unit = phase("Index") {
      execAll(DdlGen.indexDdl(source.statistics, suffix = "g1", distributed = cfg.distributed)
        .collect().map(_.getAs[String]("ddl")).toSeq, FailureLog.IdxCreateFailed)
    }

    def foreignKeys(): Unit = phase("ForeignKey") {
      val (kcu, rc) = source.foreignKeys
      execAll(DdlGen.fkDdl(kcu, rc).collect().map(_.getAs[String]("ddl")).toSeq,
        FailureLog.FkCreateFailed)
    }

    def views(): Unit = phase("View") {
      execAll(DdlGen.viewDdl(source.views, cfg.src.database)
        .collect().map(_.getAs[String]("ddl")).toSeq, FailureLog.ViewCreateFailed)
    }

    def triggers(): Unit = phase("Trigger") {
      execAll(DdlGen.triggerDdl(source.triggers)
        .collect().map(_.getAs[String]("body")).toSeq, FailureLog.TriggerCreateFailed)
    }

    /** compareDb (cmd/compare.go): per-table count verification with the
      * three outcome shapes (equal / unequal / missing target). Counts for
      * distinct tables run concurrently — both sides of each comparison
      * are independent jobs. */
    def compare(): DataFrame = {
      import spark.implicits._
      val rows = runConcurrently(workList, "graft-compare") { t =>
        Try(CompareDb.TableReport(t, source.tableData(t).count(), sink.rowCount(t.toLowerCase)))
          // unreadable source counts as a failed comparison row
          .getOrElse(CompareDb.TableReport(t, -1L, None))
      }
      rows.toDF().orderBy("table_name")
    }

    /** C10 summary: one row per executed phase. */
    def report(): DataFrame = {
      import spark.implicits._
      results.toSeq.toDF()
    }

    /** Full pipeline (C1): structure → data → sequence → index → FK →
      * view → trigger, with `structureOnly`/`dataOnly` slices matching the
      * -s / onlyData subcommands (create.go). */
    def run(structureOnly: Boolean = false, dataOnly: Boolean = false): DataFrame = {
      if (!dataOnly) tableStructure()
      if (!structureOnly) tableData()
      if (!structureOnly && !dataOnly) {
        sequences(); indexes(); foreignKeys(); views(); triggers()
      }
      report()
    }
  }
}
