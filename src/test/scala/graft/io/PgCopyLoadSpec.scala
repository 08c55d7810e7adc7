package graft.io

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The COPY write path (K1 mode B) against a recording transport: proves
  * the per-partition transaction protocol (begin → write* → commit, or
  * rollback on failure), the flush batching, and that the streamed bytes
  * are exactly PgCopyText's encoding of every row. */
object PgCopyLoadSpec {
  /** One record of everything a transport saw, keyed by test id so the
    * executor-side fakes and the assertions share state (tests fork one
    * JVM; local[*] executors are in-process). */
  final case class Recorded(begins: java.util.List[String],
                            chunks: java.util.List[Array[Byte]],
                            sideSqls: java.util.List[String],
                            var commits: Int, var rollbacks: Int, var closes: Int)
  val recordings = new ConcurrentHashMap[String, Recorded]()
  def recorded(id: String): Recorded = recordings.computeIfAbsent(id, _ =>
    Recorded(new java.util.concurrent.CopyOnWriteArrayList[String](),
      new java.util.concurrent.CopyOnWriteArrayList[Array[Byte]](),
      new java.util.concurrent.CopyOnWriteArrayList[String](), 0, 0, 0))

  final class FakeTransport(id: String, failOnWrite: Boolean) extends CopyTransport {
    private val r = recorded(id)
    override def begin(copySql: String): Unit = r.begins.add(copySql)
    override def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
      if (failOnWrite) throw new RuntimeException("injected transport failure")
      r.chunks.add(java.util.Arrays.copyOfRange(bytes, off, off + len))
    }
    override def commit(sideSqls: Seq[String]): Unit =
      r.synchronized { r.commits += 1; sideSqls.foreach(r.sideSqls.add) }
    override def rollback(): Unit = r.synchronized { r.rollbacks += 1 }
    override def close(): Unit = r.synchronized { r.closes += 1 }
  }

  final class FakeFactory(id: String, failOnWrite: Boolean = false)
      extends CopyTransportFactory {
    override def open(): CopyTransport = new FakeTransport(id, failOnWrite)
  }
}

class PgCopyLoadSpec extends AnyFunSuite {
  import PgCopyLoadSpec._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def payload(id: String): String =
    recorded(id).chunks.asScala.map(new String(_, StandardCharsets.UTF_8)).mkString

  test("streams byte-identical COPY text per row, one txn per partition") {
    val df = Seq((1L, Option("a\tb"), true), (2L, None, false), (3L, Option("c\\d"), true))
      .toDF("id", "name", "flag").repartition(2)
    val n = PgCopyLoad.copyInto(df, "t1", new FakeFactory("basic"))
    assert(n == 3L)
    val r = recorded("basic")
    // every non-empty partition: one begin with the right statement
    assert(r.begins.asScala.toSet == Set("""COPY "t1" ("id", "name", "flag") FROM STDIN"""))
    assert(r.commits == r.begins.size && r.rollbacks == 0)
    assert(r.closes == r.begins.size)
    // payload = exactly the PgCopyText encoding of the three rows
    val lines = payload("basic").split("\n", -1).filter(_.nonEmpty).sorted.toSeq
    assert(lines == Seq("1\ta\\tb\tt", "2\t\\N\tf", "3\tc\\\\d\tt"))
  }

  test("flush batching: chunks respect flushBytes, nothing lost") {
    // ~505-byte rows, ~7.7 chunks' worth: forces several full chunks
    val df = (1 to 1000).map(i => (i.toLong, "v" * 500)).toDF("id", "pad").coalesce(1)
    PgCopyLoad.copyInto(df, "t2", new FakeFactory("batch"))
    val r = recorded("batch")
    assert(r.chunks.size > 5, "rows past 6 x FlushBytes must force multiple chunks")
    // each flushed chunk stops within one row of the threshold
    val limit = PgCopyLoad.FlushBytes
    assert(r.chunks.asScala.init.forall(c => c.length >= limit && c.length <= limit + 512))
    val lines = payload("batch").split("\n", -1).filter(_.nonEmpty)
    assert(lines.length == 1000)
    assert(lines.map(_.takeWhile(_ != '\t').toLong).sorted.toSeq == (1L to 1000L))
  }

  test("NULs are stripped in the COPY pass, which samples at most the limit of them") {
    // 2 partitions x 6 rows, each row with a NUL in `a` and every other
    // row one in `b` too: 18 stripped values, 4 kept per partition
    val df = (1 to 12).map(i => (i.toLong, s"a\u0000$i", if (i % 2 == 0) s"\u0000b$i" else "b"))
      .toDF("id", "a", "b").repartition(2)
    val (n, stripped) = PgCopyLoad.copyIntoSampled(df, "t6", new FakeFactory("nul"), 4)
    assert(n == 12L)
    val lines = payload("nul").split("\n", -1).filter(_.nonEmpty)
    assert(lines.length == 12 && !lines.exists(_.contains('\u0000')))
    assert(lines.map(_.split("\t").toSeq).toSet == (1 to 12).map(i =>
      Seq(i.toString, s"a$i", if (i % 2 == 0) s"b$i" else "b")).toSet)
    assert(stripped.size == 4)
    val sampled = (1 to 12).flatMap(i => Seq("a" -> s"a$i") ++ (if (i % 2 == 0) Seq("b" -> s"b$i") else Nil))
    assert(stripped.forall(sampled.contains), stripped)
    // copyInto strips the same way and samples nothing
    assert(PgCopyLoad.copyInto(df, "t6", new FakeFactory("nul2")) == 12L)
    assert(payload("nul2").split("\n").sorted.sameElements(lines.sorted))
  }

  test("rollback (not commit) on transport failure; job fails") {
    val df = Seq((1L, "x")).toDF("id", "v").coalesce(1)
    intercept[Exception] {
      PgCopyLoad.copyInto(df, "t3", new FakeFactory("fail", failOnWrite = true))
    }
    val r = recorded("fail")
    assert(r.commits == 0)
    assert(r.rollbacks >= 1)       // every attempt rolled back...
    assert(r.closes == r.rollbacks) // ...and closed its connection
  }

  test("empty partitions open no transport") {
    val df = Seq((1L, "x")).toDF("id", "v").repartition(8)
    PgCopyLoad.copyInto(df, "t4", new FakeFactory("sparse"))
    val r = recorded("sparse")
    assert(r.begins.size == 1, "only the non-empty partition may open a connection")
  }

  test("refuses to run under speculative execution (duplicate-load guard)") {
    val on = new org.apache.spark.SparkConf().set("spark.speculation", "true")
    val e = intercept[IllegalArgumentException] { PgCopyLoad.assertNoSpeculation(on) }
    assert(e.getMessage.contains("speculation"))
    PgCopyLoad.assertNoSpeculation(new org.apache.spark.SparkConf()) // default: fine
    // and the live session (speculation off) passes through the guard
    PgCopyLoad.copyInto(Seq((1L, "x")).toDF("id", "v"), "t5", new FakeFactory("spec"))
  }
}
