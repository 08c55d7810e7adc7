package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.config.{GraftConfig, YamlConfig}
import graft.io.{Jdbc, PgJdbcCopyTransportFactory}

/** Subcommand surface (C7, cmd/create.go:18-281 / compare.go / version.go):
  *
  *   graft-cli [--config x.yml] <command>
  *     run          full migration (mysql2pg, root.go:60-213)
  *     createTable  structure only (createTable -s ≙ `run -s`)
  *     onlyData     data phase only (create.go:177-281)
  *     seqOnly | idxOnly | viewOnly   single DDL-object phases
  *     compareDb    per-table count verification (compare.go)
  *     version      version string (version.go)
  */
object GraftCli {

  val Version = "gomysql2pgspark v0.1.0"

  /** Parsed command line: the reference's cobra flag surface
    * (root.go:526-531, create.go:24). `-s`/`--selFromYml` takes the work
    * list from the yml `tables:` map. `-t`/`--tableOnly` parses like any
    * other unknown flag and is ignored: in the reference it skips
    * data-SQL planning on createTable, and page planning here is lazy in
    * the data phase already. */
  case class CliArgs(cfgPath: String, cmd: String, selFromYml: Boolean)

  def parseArgs(args: Array[String]): CliArgs = {
    val (flags, cmds) = args.partition(_.startsWith("-"))
    CliArgs(
      cfgPath = flags.collectFirst { case f if f.startsWith("--config=") => f.drop(9) }
        .getOrElse("graft.yml"),
      cmd = cmds.headOption.getOrElse("help"),
      selFromYml = flags.contains("-s") || flags.contains("--selFromYml"))
  }

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args)
    val cfgPath = parsed.cfgPath
    val cmd = parsed.cmd

    if (cmd == "version") { println(Version); return }
    if (cmd == "help") { println(usage); return }

    val cfg = {
      val base =
        if (Files.exists(Paths.get(cfgPath)))
          YamlConfig.parse(Files.readString(Paths.get(cfgPath)))
        else GraftConfig()
      base.copy(selFromYml = base.selFromYml || parsed.selFromYml)
    }

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("gomysql2pgspark")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // per-table phase workers each submit jobs into a named pool; FAIR
      // mode shares executors across in-flight tables (maxParallel model)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    Cancellation.installShutdownHook(spark) // Ctrl-C kills in-flight work (app.go:205-216)
    try Cancellation.interruptible(spark, s"graft-cli $cmd") { runCommand(spark, cfg, cmd) }
    catch {
      case e: Throwable =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        System.err.println(
          s"graft-cli: $cmd failed: ${root.getClass.getSimpleName}: ${root.getMessage}\n" +
            s"  source: ${cfg.src.mysqlJdbcUrl}\n  target: ${cfg.dest.pgJdbcUrl}\n" +
            "  check --config connection settings and network reachability")
        sys.exit(1)
    } finally spark.stop()
  }

  private def runCommand(spark: SparkSession, cfg: GraftConfig, cmd: String): Unit = {
    {
      val source = new JdbcCatalogSource(spark, cfg)
      val dest = cfg.dest
      val sink = new JdbcSink(Jdbc.ConnInfo(dest.pgJdbcUrl, dest.username, dest.password),
        new PgJdbcCopyTransportFactory(dest.pgJdbcUrl, dest.username, dest.password))
      // per-run timestamped artifact dir (CreateDateDir, app.go:219-236)
      val flog = new FailureLog(Paths.get(""))
      val runner = new Migration.Runner(spark, cfg, source, sink, Some(flog))
      cmd match {
        case "run"         => runner.run().show(false)
        case "createTable" => runner.tableStructure(); runner.report().show(false)
        case "onlyData"    => runner.tableData(); runner.report().show(false)
        case "seqOnly"     => runner.sequences(); runner.report().show(false)
        case "idxOnly"     => runner.indexes(); runner.report().show(false)
        case "viewOnly"    => runner.views(); runner.report().show(false)
        case "compareDb"   =>
          val rep = runner.compare()
          rep.show(false)                                   // all rows
          graft.verify.CompareDb.failedOnly(rep).show(false) // failed-only table
        case other => println(s"unknown command: $other\n$usage")
      }
    }
  }

  def usage: String =
    """usage: graft-cli [--config=path.yml] [-s|--selFromYml] [-t|--tableOnly] <run|createTable|onlyData|seqOnly|idxOnly|viewOnly|compareDb|version>"""
}
