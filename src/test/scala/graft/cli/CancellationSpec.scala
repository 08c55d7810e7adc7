package graft.cli

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Pagination
import graft.io.StatementRegistry

class CancellationSpec extends AnyFunSuite {
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
    val st = proxy(classOf[java.sql.Statement]) {
      case ("cancel", _) => cancelled = true; null
      case _             => null
    }
    StatementRegistry.register(st)
    try {
      Cancellation.cancelAll(spark)
      assert(cancelled, "registered statement not cancelled")
    } finally StatementRegistry.deregister(st)
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
    assert(Pagination
      .deferredJoinPageSql("t", Seq("id"), 10, 25)
      .forall(_.startsWith(s"SELECT ${Pagination.SqlTag} ")))
  }
}
