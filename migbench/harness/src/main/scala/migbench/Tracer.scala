package migbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cli.Migration.{CatalogSource, MigrationSink}
import graft.io.{CopyTransport, CopyTransportFactory}
import graft.types.ColumnMeta

/** One timed call at a layer boundary. `run` is the migration the span
  * belongs to; `parent` is the span that caused it (0 for the root). Copy
  * spans also carry the bytes sent and the time spent inside the
  * transport's write/commit. */
final case class Span(id: Int, parent: Int, run: Int, name: String, key: String,
                      start: Long, end: Long, bytes: Long = 0, waitNs: Long = 0) {
  def dur: Long = end - start
}

/** The untraced tracer: runs the body and records nothing. */
class Tracer {
  def span[A](name: String, key: String)(body: => A): A = body
}

object Tracer {
  /** Spark local property marking the jobs `copyInto` starts. */
  val WriteProp = "migbench.write"
  val off = new Tracer
  /** Where tasks find the tracer: closures shipped to tasks are copies. */
  @volatile var active: Tracer = off
}

/** Keeps every span in memory until the run ends. The parent of a span is
  * the innermost open span of its thread; worker threads inherit the span
  * open when they were created, so per-table work nests under its phase. */
final class SpanTracer extends Tracer {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new InheritableThreadLocal[Integer] { override def initialValue: Integer = 0 }
  private val openWrites = new ConcurrentHashMap[String, Integer]()
  @volatile var run: Int = 0

  override def span[A](name: String, key: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.get
    open.set(id)
    if (name == "sink.writeTable") openWrites.put(key, id)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, run, name, key, t0, System.nanoTime()))
      open.set(parent)
      if (name == "sink.writeTable") openWrites.remove(key)
    }
  }

  /** A copy span, parented to the table's open writeTable span. */
  def copied(name: String, table: String, start: Long, end: Long, bytes: Long, waitNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), Option(openWrites.get(table)).fold(0)(_.intValue),
      run, name, table, start, end, bytes, waitNs))
}

final class TracedSource(in: CatalogSource, tr: Tracer) extends CatalogSource {
  override def tableNames: Seq[String] = tr.span("catalog.tableNames", "")(in.tableNames)
  override def columns(table: String): Seq[ColumnMeta] =
    tr.span("catalog.columns", table)(in.columns(table))
  override def tableData(table: String): DataFrame =
    tr.span("catalog.tableData", table)(in.tableData(table))
  override def tableData(table: String, customSqls: Seq[String]): DataFrame =
    tr.span("catalog.tableData", table)(in.tableData(table, customSqls))
  override def statistics: DataFrame = tr.span("catalog.statistics", "")(in.statistics)
  override def foreignKeys: (DataFrame, DataFrame) =
    tr.span("catalog.foreignKeys", "")(in.foreignKeys)
  override def autoIncrements: DataFrame =
    tr.span("catalog.autoIncrements", "")(in.autoIncrements)
  override def views: DataFrame = tr.span("catalog.views", "")(in.views)
  override def triggers: DataFrame = tr.span("catalog.triggers", "")(in.triggers)
}

final class TracedSink(in: MigrationSink, tr: Tracer) extends MigrationSink {
  override def executeDdl(sql: String): Try[Unit] =
    tr.span("sink.ddl", sql.takeWhile(_ != ' '))(in.executeDdl(sql))
  override def writeTable(table: String, df: DataFrame): Try[Long] =
    tr.span("sink.writeTable", table)(in.writeTable(table, df))
  override def rowCount(table: String): Option[Long] =
    tr.span("sink.rowCount", table)(in.rowCount(table))
}

/** Times one partition's COPY from begin to commit, and the part of that
  * spent inside the transport's write and commit calls. */
final class TracedTransport(in: CopyTransport) extends CopyTransport {
  private var table = ""
  private var t0 = 0L
  private var waitNs = 0L
  private var bytes = 0L

  private def timed[A](f: => A): A = {
    val s = System.nanoTime()
    try f finally waitNs += System.nanoTime() - s
  }

  override def begin(copySql: String): Unit = {
    table = copySql.stripPrefix("COPY \"").takeWhile(_ != '"')
    t0 = System.nanoTime()
    in.begin(copySql)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    bytes += len
    timed(in.write(b, off, len))
  }
  override def commit(sideSqls: Seq[String]): Unit = {
    timed(in.commit(sideSqls))
    record("io.copy")
  }
  override def rollback(): Unit = {
    record("io.copy.rollback")
    in.rollback()
  }
  override def close(): Unit = in.close()

  private def record(name: String): Unit = Tracer.active match {
    case st: SpanTracer => st.copied(name, table, t0, System.nanoTime(), bytes, waitNs)
    case _ => ()
  }
}

final class TracedTransportFactory(in: CopyTransportFactory) extends CopyTransportFactory {
  override def open(): CopyTransport = new TracedTransport(in.open())
}

/** Spark engine and Catalyst counters, from a listener on each bus. The
  * counts cover everything since the last reset. */
final class EngineStats extends SparkListener with QueryExecutionListener {
  val jobs, tasks, writeTasks, runMs, cpuNs, gcMs, shuffleWrite, spill, planMs, execNs =
    new LongAdder
  private val writeStages = ConcurrentHashMap.newKeySet[Int]()

  def reset(): Unit = Seq(jobs, tasks, writeTasks, runMs, cpuNs, gcMs, shuffleWrite, spill,
    planMs, execNs).foreach(_.reset())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    if (e.properties != null && e.properties.getProperty(Tracer.WriteProp) == "1")
      e.stageIds.foreach(writeStages.add)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (writeStages.contains(e.stageId)) writeTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime); gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten); spill.add(m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs.add(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    execNs.add(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.MigbenchBus.drain(spark.sparkContext)
}
