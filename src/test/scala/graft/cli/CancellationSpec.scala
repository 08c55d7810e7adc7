package graft.cli

import java.nio.file.Files
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, SQLException}
import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Pagination
import graft.io.{Jdbc, StatementRegistry}

object CancellationSpec {
  /** A statement whose `cancel` runs `onCancel`. */
  def cancellable(onCancel: () => Unit): java.sql.Statement =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Statement]), (p, m, args) => m.getName match {
        case "cancel"   => onCancel(); null
        case "hashCode" => Integer.valueOf(System.identityHashCode(p))
        case "equals"   => java.lang.Boolean.valueOf(p eq args(0))
        case _          => null
      }).asInstanceOf[java.sql.Statement]

  /** Accepts `jdbc:mysql://sweep.invalid/` URLs only and hands out `conn`,
    * so the sweep runs with no MySQL server. */
  final class SweepDriver(conn: Connection) extends Driver {
    val opened = new java.util.concurrent.CopyOnWriteArrayList[Properties]()
    override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:mysql://sweep.invalid/")
    override def connect(url: String, info: Properties): Connection =
      if (acceptsURL(url)) { opened.add(info); conn } else null
    override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
      Array.empty
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant: Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("sweep")
  }
}

/** What the CLI does at a clean exit: the run stops the context, then the
  * JVM runs the shutdown hook. Prints "statement cancelled" when the hook
  * reached the registered statement. */
object ShutdownAfterStop {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.addShutdownHook(Cancellation.onShutdown(spark, Jdbc.ConnInfo("jdbc:derby:memory:unused", "", "")))
    StatementRegistry.register(CancellationSpec.cancellable(() => println("statement cancelled")))
    spark.stop()
  }
}

class CancellationSpec extends AnyFunSuite {
  import CancellationSpec._
  lazy val spark = TestSpark.spark

  test("cancelAll interrupts a running job group") {
    @volatile var failed: Throwable = null
    val t = new Thread(() => {
      try Cancellation.interruptible(spark, "slow job") {
        spark.range(1000000000L).rdd.map { i => Thread.sleep(0, 100); i }.count()
      } catch { case e: Throwable => failed = e }
    })
    t.start()
    // closures are serialized even in local mode, so observe job start
    // through the status tracker rather than shared state
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty, "job never started")
    Cancellation.cancelAll(spark)
    t.join(30000)
    assert(!t.isAlive, "job did not stop after cancel")
    assert(failed != null, "cancelled job should raise")
  }

  test("interruptible clears the job group afterwards") {
    val r = Cancellation.interruptible(spark, "quick") { spark.range(10).count() }
    assert(r == 10)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  private def proxy[T](clazz: Class[T])(handle: (String, Array[AnyRef]) => AnyRef): T =
    java.lang.reflect.Proxy.newProxyInstance(clazz.getClassLoader, Array(clazz),
      (p, m, args) => m.getName match {
        case "hashCode" => Integer.valueOf(System.identityHashCode(p))
        case "equals"   => java.lang.Boolean.valueOf(p eq args(0))
        case "toString" => "proxy:" + clazz.getSimpleName
        case name       => handle(name, if (args == null) Array.empty else args)
      }).asInstanceOf[T]

  test("cancelAll cancels registered driver-side JDBC statements (C11)") {
    @volatile var cancelled = false
    val st = cancellable(() => cancelled = true)
    StatementRegistry.register(st)
    try {
      Cancellation.cancelAll(spark)
      assert(cancelled, "registered statement not cancelled")
    } finally StatementRegistry.deregister(st)
  }

  test("onShutdown cancels registered statements; a non-MySQL source opens no sweep connection") {
    @volatile var cancelled = false
    val st = cancellable(() => cancelled = true)
    StatementRegistry.register(st)
    try Cancellation.onShutdown(spark, Jdbc.ConnInfo("jdbc:derby:memory:graftsweep;create=true", "", ""))
    finally StatementRegistry.deregister(st)
    assert(cancelled)
    // a connection with create=true would have made the database
    intercept[SQLException](DriverManager.getConnection("jdbc:derby:memory:graftsweep"))
  }

  test("onShutdown sweeps a jdbc:mysql source over one fresh connection (app.go:186-216)") {
    val killed = scala.collection.mutable.Buffer[String]()
    var closed = false
    var idx = -1
    val rs = proxy(classOf[java.sql.ResultSet]) {
      case ("next", _)      => idx += 1; java.lang.Boolean.valueOf(idx < 1)
      case ("getString", _) => "7"
      case _                => null
    }
    val st = proxy(classOf[java.sql.Statement]) {
      case ("executeQuery", _) => rs
      case ("execute", args)   => killed += args(0).asInstanceOf[String]; java.lang.Boolean.TRUE
      case _                   => null
    }
    val conn = proxy(classOf[Connection]) {
      case ("createStatement", _) => st
      case ("close", _)           => closed = true; null
      case _                      => null
    }
    val driver = new SweepDriver(conn)
    DriverManager.registerDriver(driver)
    try Cancellation.onShutdown(spark, Jdbc.ConnInfo("jdbc:mysql://sweep.invalid/db", "u", "p"))
    finally DriverManager.deregisterDriver(driver)
    assert(killed.toSeq == Seq("kill query 7"))
    assert(closed)
    assert(driver.opened.size == 1)
    val props = driver.opened.get(0)
    assert(props.getProperty("user") == "u" && props.getProperty("connectTimeout") == "5000")
  }

  test("the shutdown hook after spark.stop() cancels statements and does not throw") {
    val dir = graft.TempScratch.fresh("graft-hook")
    val out = dir.resolve("out").toFile
    val err = dir.resolve("err").toFile
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m") ++ jvmFlags ++
      Seq("-cp", System.getProperty("java.class.path"), ShutdownAfterStop.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd: _*).redirectOutput(out).redirectError(err).start()
    assert(p.waitFor(120, TimeUnit.SECONDS), "child JVM did not exit")
    val stdout = Files.readString(out.toPath)
    val stderr = Files.readString(err.toPath)
    assert(p.exitValue == 0, stderr)
    assert(stdout.contains("statement cancelled"), stderr)
    assert(!stderr.contains("IllegalStateException"), stderr)
  }

  test("killTagged sweeps PROCESSLIST for tagged queries (app.go:186-202)") {
    val killed = scala.collection.mutable.Buffer[String]()
    val ids = Seq("101", "202")
    var idx = -1
    val rs = proxy(classOf[java.sql.ResultSet]) {
      case ("next", _)      => idx += 1; java.lang.Boolean.valueOf(idx < ids.size)
      case ("getString", _) => ids(idx)
      case _                => null
    }
    val st = proxy(classOf[java.sql.Statement]) {
      case ("executeQuery", args) =>
        // the sweep must search for OUR tag
        assert(args(0).asInstanceOf[String].contains(Cancellation.GroupId))
        rs
      case ("execute", args) =>
        killed += args(0).asInstanceOf[String]; java.lang.Boolean.TRUE
      case _ => null
    }
    val conn = proxy(classOf[java.sql.Connection]) {
      case ("createStatement", _) => st
      case _                      => null
    }
    assert(Cancellation.killTagged(conn) == ids)
    assert(killed.toSeq == Seq("kill query 101", "kill query 202"))
  }

  test("generated SQL carries the kill-marker tag (root.go:373,394)") {
    assert(Pagination.SqlTag.contains(Cancellation.GroupId))
    assert(Pagination.keyProbeSql("t", Seq("id")).startsWith(s"SELECT ${Pagination.SqlTag} "))
    assert(Pagination.countSql("t").startsWith(s"SELECT ${Pagination.SqlTag} "))
    assert(Pagination.keysetPredicates(Seq("id"), Seq(Seq("10"), Seq("20")))
      .forall(_.startsWith(s"${Pagination.SqlTag} ")))
  }
}
