package migbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cli.{JdbcCatalogSource, Migration}
import graft.config.{ConnConfig, GraftConfig}

/** One benchmark run in one JVM: start Spark, generate the seeded source,
  * set up (warm-up included), then migrate in a closed loop until the
  * time is up. Everything the caller checks or reports goes to `--out`;
  * stdout carries nothing the caller parses.
  *
  * Arguments: --workload bulk_copy|many_tables --seed N --seconds S
  * --trace 0|1 --work DIR --pg-host H --pg-port P --cpus N
  * --out FILE */
object Main {
  val DerbyUrl = "jdbc:derby:memory:migbench;create=true"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, ep: PgEndpoint, cpus: Int, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"),
      PgEndpoint(m("pg-host"), m("pg-port").toInt, "postgres", "postgres"),
      m("cpus").toInt, m("out"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("migbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // keep Spark's status store small and at a fixed size, so the live
      // heap does not grow with the number of migrations in a run
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The highest percentile n samples support with a sample beyond it:
    * p(1 - 1/n) by nearest rank, the second largest (the median for n < 3). */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 3) median(xs) else xs.sorted.apply(xs.size - 2)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    System.setProperty("derby.stream.error.file", s"${a.work}/derby.log")
    // Derby compiles each distinct statement to bytecode; the default
    // cache of 100 would recompile many_tables' per-table catalog queries
    // on every migration, a cost a MySQL source does not have
    System.setProperty("derby.language.statementCacheSize", "20000")
    // the source never changes; Derby's background index-statistics
    // refresh would otherwise scan it once, mid-run
    System.setProperty("derby.storage.indexStats.auto", "false")
    val result = a.workload match {
      case "bulk_copy" | "many_tables" => new MigrationRun(a).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a.out), Json(result))
  }

  /** Heap in use after a full collection, in MB: the least of six
    * collections 200 ms apart. The first one after the timed loop still
    * finds ~40 MB that only reference processing and Spark's cleaner
    * thread release, and back-to-back collections can all come before
    * that thread runs; background threads also hold short-lived
    * buffers. Neither is the program's steady footprint. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 6).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }
}

/** One migration's measurements. */
final case class Migrated(migrateS: Double, compareS: Double, phases: Map[String, Double],
                          rows: Long, bytes: Long, attempted: Long, failed: Long)

final class MigrationRun(a: Main.Args) {
  import Main._

  private val tracer: Tracer = if (a.trace) new SpanTracer else Tracer.off
  Tracer.active = tracer
  private val bulk = a.workload == "bulk_copy"
  /** bulk_copy: the reference's default page size, scaled with the data so
    * lineitem still splits into 6 pages on 4 cores. many_tables: small
    * pages, so its tables span several. */
  private val cfg = GraftConfig(src = ConnConfig(database = SourceGen.Schema),
    pageSize = if (bulk) 100000 / SourceGen.BulkScale else 200, maxParallel = a.cpus)
  private val pool = PgPool.register(new PgPool(a.ep, a.cpus))
  private val stats = new EngineStats

  /** One migration and its compare. */
  private def migrate(spark: SparkSession, run: Int): Migrated = {
    tracer match { case st: SpanTracer => st.run = run; case _ => () }
    val plainSource = new JdbcCatalogSource(spark, cfg, Some(DerbyUrl))
    val plainFactory = new WireCopyTransportFactory(a.ep)
    val factory = if (a.trace) new TracedTransportFactory(plainFactory) else plainFactory
    val plainSink = new PgSink(pool, factory, tracer)
    val source = if (a.trace) new TracedSource(plainSource, tracer) else plainSource
    val sink = if (a.trace) new TracedSink(plainSink, tracer) else plainSink
    val runner = new Migration.Runner(spark, cfg, source, sink)
    val phaseS = mutable.LinkedHashMap[String, Double]()
    val steps: Seq[(String, () => Unit)] = Seq(
      "TableStructure" -> (() => runner.tableStructure()), "TableData" -> (() => runner.tableData()),
      "Sequence" -> (() => runner.sequences()), "Index" -> (() => runner.indexes()),
      "ForeignKey" -> (() => runner.foreignKeys()), "View" -> (() => runner.views()),
      "Trigger" -> (() => runner.triggers()))
    val rows0 = PgSink.rows.sum
    val bytes0 = WireCopyTransport.bytes.sum
    tracer.span("migration", run.toString) {
      val m0 = System.nanoTime()
      steps.foreach { case (name, f) =>
        val t0 = System.nanoTime()
        tracer.span("phase", name)(f())
        phaseS(name) = secs(t0)
      }
      val migrateS = secs(m0)
      val c0 = System.nanoTime()
      val cmp = tracer.span("phase", "Compare")(runner.compare().collect())
      val compareS = secs(c0)
      val report = runner.report().collect()
      val attempted = report.map(_.getLong(1)).sum + cmp.length
      val failed = report.map(_.getLong(2)).sum + cmp.count(_.getString(4) != "YES")
      System.err.println(f"[migbench] migration $run: migrate $migrateS%.2f s, compare " +
        f"$compareS%.2f s, failed $failed/$attempted; " +
        phaseS.map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
      Migrated(migrateS, compareS, phaseS.toMap, PgSink.rows.sum - rows0,
        WireCopyTransport.bytes.sum - bytes0, attempted, failed)
    }
  }

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = secs(t0)
    if (a.trace) stats.attach(spark)

    val g0 = System.nanoTime()
    val src = if (bulk) SourceGen.bulk(a.seed) else SourceGen.many(a.seed)
    val madeS = secs(g0)
    SourceGen.load(DerbyUrl, src)
    val loadS = secs(g0) - madeS
    val fingerprints = src.tables.map(t => t.name.toLowerCase -> SourceGen.fingerprint(t)).toMap
    val nTables = src.tables.size
    val sourceRows = src.tables.map(_.rows.size.toLong).sum
    val genS = secs(g0)
    System.err.println(f"[migbench] session $sessionS%.2f s, generated $sourceRows rows in " +
      f"$genS%.2f s (rows $madeS%.2f s, Derby load $loadS%.2f s)")

    // set-up: the session start above plus two untimed warm-up migrations;
    // after one, the timed migrations still got faster through the run
    val w0 = System.nanoTime()
    (1 to 2).foreach(_ => migrate(spark, 0))
    val setupS = sessionS + secs(w0)

    if (a.trace) { stats.drain(spark); stats.reset() }
    val runs = mutable.ArrayBuffer[Migrated]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    do runs += migrate(spark, runs.size + 1) while (System.nanoTime() < deadline)
    val n = runs.size

    val layers: Map[String, Any] = if (!a.trace) Map.empty else {
      stats.drain(spark)
      val engine = Map(
        "spark.jobs" -> stats.jobs.sum.toDouble / n,
        "spark.jobs_per_table" -> stats.jobs.sum.toDouble / n / nTables,
        "spark.tasks" -> stats.tasks.sum.toDouble / n,
        "spark.task_s" -> stats.runMs.sum / 1e3 / n,
        "spark.task_cpu_s" -> stats.cpuNs.sum / 1e9 / n,
        "spark.gc_s" -> stats.gcMs.sum / 1e3 / n,
        "spark.shuffle_write_mb" -> stats.shuffleWrite.sum / 1e6 / n,
        "spark.spill_mb" -> stats.spill.sum / 1e6 / n,
        "ops.plan_s" -> stats.planMs.sum / 1e3 / n,
        "ops.exec_s" -> stats.execNs.sum / 1e9 / n,
        "catalog.pages" -> stats.writeTasks.sum.toDouble / n)
      val spans = tracer.asInstanceOf[SpanTracer].spans.asScala.toVector
      val fromSpans = Layers.migration(spans, runs.toSeq, cfg.maxParallel,
        stats.writeTasks.sum.toDouble / n)
      val extras = new Passes(spark, cfg, sourceRows).all(src.tables.map(_.name))
      val mig = runs.map(_.migrateS).toSeq
      engine ++ fromSpans ++ extras ++ Map("trace.migrate_s" -> median(mig),
        "trace.migrate_s.tail" -> tail(mig))
    }

    val heap = liveHeapMb()
    val spansOut = tracer match {
      case st: SpanTracer =>
        val p = s"${a.work}/spans.jsonl"
        Files.write(Paths.get(p), st.spans.asScala.toSeq.sortBy(_.id).map(Json(_)).asJava)
        p
      case _ => null
    }
    spark.stop()
    pool.close()

    val mig = runs.map(_.migrateS).toSeq
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "migrations" -> n,
      "generate_s" -> genS, "setup_s" -> setupS,
      "attempted" -> runs.map(_.attempted).sum, "failed" -> runs.map(_.failed).sum,
      "fingerprints" -> fingerprints,
      "catalog" -> Map(
        "indexes" -> src.tables.map(_.indexes.size).sum,
        "foreign_keys" -> src.tables.map(_.fks.size).sum,
        "sequences" -> src.tables.count(_.autoIncrement.nonEmpty),
        "views" -> src.views.size, "triggers" -> src.triggers.size),
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "migrate_s" -> median(mig),
        "data_rows_per_s" -> median(runs.map(r => r.rows / r.phases("TableData")).toSeq),
        "data_mb_per_s" -> median(runs.map(r => r.bytes / 1e6 / r.phases("TableData")).toSeq),
        "compare_s" -> median(runs.map(_.compareS).toSeq),
        "live_heap_mb" -> heap),
      "per_migration" -> runs.toSeq,
      "layers" -> layers,
      "spans" -> spansOut)
  }
}
