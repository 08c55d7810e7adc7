package graft.cli


import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.TestSpark
import graft.config.GraftConfig
import graft.types.ColumnMeta

/** End-to-end pipeline test with fixture-backed endpoints: the same
  * Runner that drives live JDBC runs against in-memory catalog/sink. */
class MigrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixtureSource = fixtureSourceFor(Seq("t1", "log_skip"))

  private def fixtureSourceFor(names: Seq[String]) = new Migration.CatalogSource {
    override def tableNames = names
    override def columns(table: String) = Seq(
      ColumnMeta("id", "int", None, Some(10), Some(0), "NO", None, 1),
      ColumnMeta("name", "varchar", Some(20L), None, None, "YES", None, 2))
    override def tableData(table: String) =
      Seq((1, "a\u0000"), (2, "b")).toDF("ID", "NAME")
    override def statistics =
      Seq(("t1", "PRIMARY", 0, 1, "id", "BTREE")).toDF(
        "table_name", "index_name", "non_unique", "seq_in_index", "column_name", "index_type")
    override def foreignKeys = (
      Seq(("fk1", "t1", "id", 1, "p", "pid")).toDF("constraint_name", "table_name",
        "column_name", "ordinal_position", "referenced_table_name", "referenced_column_name"),
      Seq(("fk1", "CASCADE", "RESTRICT")).toDF("constraint_name", "update_rule", "delete_rule"))
    override def autoIncrements =
      Seq(("t1", "id", 5L)).toDF("table_name", "column_name", "auto_increment")
    override def views = Seq(("v1", "select `id` from test.`t1`")).toDF("table_name", "view_definition")
    override def triggers = Seq(("tr1", "#c\nbody")).toDF("trigger_name", "action_statement")
  }

  /** Thread-safe: phase workers call these concurrently. */
  private class RecordingSink extends Migration.MigrationSink {
    val ddl = mutable.ArrayBuffer[String]()
    val written = mutable.Map[String, Array[org.apache.spark.sql.Row]]()
    val frames = mutable.Map[String, DataFrame]()
    var failDdlContaining: Option[String] = None
    override def executeDdl(sql: String): Try[Unit] =
      if (failDdlContaining.exists(sql.contains)) Failure(new RuntimeException("boom"))
      else synchronized { ddl += sql; Success(()) }
    override def writeTable(table: String, df: DataFrame): Try[Long] = Try {
      val rows = df.collect()
      synchronized { written(table) = rows; frames(table) = df }
      rows.length.toLong
    }
    override def rowCount(table: String): Option[Long] =
      synchronized { written.get(table).map(_.length.toLong) }
  }

  private val cfg = GraftConfig(exclude = Seq("log*"),
    src = graft.config.ConnConfig(database = "test"))

  test("full run: phases in order, exclusion applied, transforms applied") {
    val sink = new RecordingSink
    val runner = new Migration.Runner(spark, cfg, fixtureSource, sink)
    assert(runner.workList == Seq("t1")) // log_skip excluded by pattern
    val report = runner.run().collect()
    assert(report.map(_.getString(0)).toSeq ==
      Seq("TableStructure", "TableData", "Sequence", "Index", "ForeignKey", "View", "Trigger"))
    assert(report.forall(_.getLong(2) == 0L)) // no failures
    // structure DDL correct
    assert(sink.ddl.contains(
      """create table "t1" ("id" int not null, "name" varchar(20) null)"""))
    // data written lowercase-named and as read: NULs are the COPY
    // encoder's to strip (PgCopyTextSpec, MigrationEndToEndSpec)
    assert(sink.frames("t1").columns.toSeq == Seq("id", "name"))
    val rows = sink.written("t1").map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1, "a\u0000"), (2, "b")))
    // DDL-object phases produced statements
    assert(sink.ddl.exists(_.startsWith("create sequence seq_t1_id")))
    assert(sink.ddl.exists(_.contains("add primary key (id)")))
    assert(sink.ddl.exists(_.contains("foreign key (id) references p (pid)")))
    assert(sink.ddl.exists(_.startsWith("create or replace view v1 as select id from t1")))
  }

  test("failure accounting (A4): failed DDL counts into the phase report") {
    val sink = new RecordingSink
    sink.failDdlContaining = Some("create sequence")
    val runner = new Migration.Runner(spark, cfg, fixtureSource, sink)
    runner.sequences()
    val row = runner.report().collect().head
    assert(row.getString(0) == "Sequence")
    assert(row.getLong(2) == 1L) // one failed statement
  }

  test("tableStructure drops and creates the target table with an embedded quote doubled") {
    val sink = new RecordingSink
    new Migration.Runner(spark, cfg, fixtureSourceFor(Seq("a\"b")), sink).tableStructure()
    assert(sink.ddl.toSeq == Seq("""drop table if exists "a""b" cascade""",
      """create table "a""b" ("id" int not null, "name" varchar(20) null)"""))
  }

  test("compare: YES / missing-target outcomes (compare.go shapes)") {
    val sink = new RecordingSink
    val runner = new Migration.Runner(spark, cfg, fixtureSource, sink)
    runner.tableData()
    val ok = runner.compare().collect().head
    assert(ok.getString(0) == "t1" && ok.getString(4) == "YES")
    val emptySink = new RecordingSink
    val r2 = new Migration.Runner(spark, cfg, fixtureSource, emptySink)
    val missing = r2.compare().collect().head
    assert(missing.getString(3) == "NO" && missing.getLong(2) == -1L)
    val shortSink = new RecordingSink
    shortSink.written("t1") = Array(org.apache.spark.sql.Row(1, "a"))
    val r3 = new Migration.Runner(spark, cfg, fixtureSource, shortSink)
    val unequal = r3.compare().collect().head
    assert((unequal.getLong(1), unequal.getLong(2), unequal.getString(3), unequal.getString(4)) ==
      ((2L, 1L, "YES", "NO")))
  }

  test("structureOnly / dataOnly slices match the -s and onlyData subcommands") {
    val sink = new RecordingSink
    val r = new Migration.Runner(spark, cfg, fixtureSource, sink)
    assert(r.run(structureOnly = true).collect().map(_.getString(0)).toSeq == Seq("TableStructure"))
    val sink2 = new RecordingSink
    val r2 = new Migration.Runner(spark, cfg, fixtureSource, sink2)
    assert(r2.run(dataOnly = true).collect().map(_.getString(0)).toSeq == Seq("TableData"))
  }

  test("K3 artifacts: failed DDL lands in the run's log dir") {
    val base = graft.TempScratch.fresh("graft-k3")
    val flog = new FailureLog(base)
    val sink = new RecordingSink
    sink.failDdlContaining = Some("create sequence")
    val runner = new Migration.Runner(spark, cfg, fixtureSource, sink, Some(flog))
    runner.sequences()
    runner.tableData()
    // failed-DDL artifact: the statement verbatim + the error, replayable
    val seqLog = flog.read(FailureLog.SeqCreateFailed)
    assert(seqLog.size == 1)
    assert(seqLog.head.startsWith("create sequence seq_t1_id"))
    assert(seqLog.head.endsWith(" -- ErrorInfo boom"))
    // the NUL log is the COPY sink's (MigrationEndToEndSpec), not the Runner's
    assert(flog.read(FailureLog.InvalidTableData).isEmpty)
    // nothing else failed → no other artifacts
    assert(flog.read(FailureLog.FailedTable).isEmpty)
    assert(flog.read(FailureLog.ErrorTableData).isEmpty)
  }

  test("K3 artifacts: failed table write lands in failedTable + errorTableData") {
    val base = graft.TempScratch.fresh("graft-k3w")
    val flog = new FailureLog(base)
    val sink = new RecordingSink {
      override def writeTable(table: String, df: DataFrame): Try[Long] =
        Failure(new RuntimeException("write exploded"))
    }
    val runner = new Migration.Runner(spark, cfg, fixtureSource, sink, Some(flog))
    runner.tableData()
    assert(flog.read(FailureLog.FailedTable) == Seq("t1"))
    assert(flog.read(FailureLog.ErrorTableData) ==
      Seq("t1 -- ErrorInfo write exploded"))
    assert(runner.report().collect().head.getLong(2) == 1L)
  }

  test("tableData overlaps per-table jobs up to maxParallel (root.go:106-117)") {
    val n = 4
    // every writeTable parks on a barrier sized to the table count: the
    // phase can only complete if all n tables are in flight AT ONCE — a
    // sequential loop deadlocks the first write until the await times out
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val sink = new RecordingSink {
      override def writeTable(table: String, df: DataFrame): Try[Long] = {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        super.writeTable(table, df)
      }
    }
    val names = (1 to n).map(i => s"t$i")
    val runner = new Migration.Runner(spark, cfg.copy(maxParallel = n),
      fixtureSourceFor(names), sink)
    runner.tableData()
    val row = runner.report().collect().head
    assert(row.getString(0) == "TableData")
    assert(row.getLong(1) == n && row.getLong(2) == 0L) // same report shape, no failures
    assert(sink.written.keySet == names.toSet)
    // every concurrent branch hands its sink the rows as read
    assert(sink.written.values.forall(_.map(r => r.getString(1)).sorted
      .sameElements(Array("a\u0000", "b"))))
  }

  test("compare overlaps per-table count jobs (compare.go + maxParallel)") {
    val n = 3
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val names = (1 to n).map(i => s"t$i")
    val sink = new RecordingSink {
      override def rowCount(table: String): Option[Long] = {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        super.rowCount(table)
      }
    }
    val runner = new Migration.Runner(spark, cfg.copy(maxParallel = n),
      fixtureSourceFor(names), sink)
    runner.tableData()
    val rep = runner.compare().collect()
    assert(rep.map(_.getString(0)).toSeq == names) // ordered output preserved
    assert(rep.forall(_.getString(4) == "YES"))
  }

  test("cli surface: version and help") {
    GraftCli.main(Array("version"))
    assert(GraftCli.usage.contains("compareDb"))
  }

  test("cli flags: -s/--selFromYml and -t/--tableOnly parse (create.go:24, root.go:529)") {
    val a = GraftCli.parseArgs(Array("--config=x.yml", "-s", "createTable", "-t"))
    assert(a == GraftCli.CliArgs("x.yml", "createTable", selFromYml = true))
    val b = GraftCli.parseArgs(Array("--selFromYml", "--tableOnly", "run"))
    assert(b.selFromYml && b.cmd == "run")
    val c = GraftCli.parseArgs(Array("compareDb"))
    assert(!c.selFromYml && c.cfgPath == "graft.yml")
  }

  test("-s slices the work list to the yml tables map (root.go:97)") {
    val sink = new RecordingSink
    val tables = Map("t1" -> Seq.empty[String])
    // -s: only yml-configured tables, even though the catalog has more
    val rSel = new Migration.Runner(spark,
      cfg.copy(selFromYml = true, tables = tables),
      fixtureSourceFor(Seq("t1", "t2", "t3")), sink)
    assert(rSel.workList == Seq("t1"))
    // no -s and no tables: → full catalog minus exclusions
    val rAll = new Migration.Runner(spark, cfg.copy(tables = Map.empty),
      fixtureSourceFor(Seq("t1", "t2", "log_x")), sink)
    assert(rAll.workList == Seq("t1", "t2"))
    // -s with nothing configured → empty work list (reference: empty map)
    val rEmpty = new Migration.Runner(spark, cfg.copy(selFromYml = true),
      fixtureSourceFor(Seq("t1")), sink)
    assert(rEmpty.workList.isEmpty)
    // yml-configured names are taken VERBATIM: exclusion only filters the
    // full-catalog scan (root.go:227-246), never explicit config (root.go:97)
    val rVerbatim = new Migration.Runner(spark,
      cfg.copy(selFromYml = true, tables = Map("log_keep" -> Seq.empty[String])),
      fixtureSourceFor(Seq("t1")), sink)
    assert(rVerbatim.workList == Seq("log_keep"))
  }
}
