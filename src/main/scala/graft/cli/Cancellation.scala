package graft.cli

import java.sql.{Connection, DriverManager}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.io.{Jdbc, StatementRegistry}

/** Interruptible execution (S11/C11): the reference tags its SQL with a
  * "gomysql2pg" comment marker and kills matching PROCESSLIST entries on
  * Ctrl-C (cmd/app.go:186-216). Spark's native equivalent is job groups:
  * every pipeline phase runs inside a named, interruptible group, and a
  * single cancel call interrupts all its tasks. On top of that, driver-
  * side JDBC statements (DDL) register in io.StatementRegistry so cancel
  * reaches statements that sit outside any Spark task, and `killTagged`
  * reproduces the reference's PROCESSLIST sweep for the source side.
  */
object Cancellation {

  val GroupId = "gomysql2pgspark"

  /** Run `body` inside the cancellable job group. */
  def interruptible[A](spark: SparkSession, desc: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(GroupId, desc, interruptOnCancel = true)
    try body
    finally spark.sparkContext.clearJobGroup()
  }

  /** Cancel everything the pipeline has in flight (the Ctrl-C hook,
    * root.go:62-64): every registered driver-side JDBC statement, then,
    * while the context runs, the Spark jobs in the group (at JVM exit
    * Spark's own hook may have stopped it; `cancelJobGroup` then throws). */
  def cancelAll(spark: SparkSession): Unit = {
    StatementRegistry.cancelAll()
    if (!spark.sparkContext.isStopped) spark.sparkContext.cancelJobGroup(GroupId)
  }

  /** The reference's cleanDBconn (cmd/app.go:186-202): find every source-
    * side session still running a tagged query and `KILL QUERY` it.
    * Returns the killed ids. `onShutdown` runs it for a MySQL source —
    * covers executors' in-flight page reads, which hold statements this
    * driver JVM cannot see. */
  def killTagged(conn: Connection): Seq[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        "select id from information_schema.PROCESSLIST " +
          // connection_id() guard: this sweep query itself contains the
          // tag, so without it the sweep would kill its own session
          // mid-iteration and abort before reaching the real targets
          s"where info like '%$GroupId%' and id <> connection_id()")
      val ids = mutable.Buffer[String]()
      while (rs.next()) ids += rs.getString(1)
      ids.foreach(id => st.execute(s"kill query $id")) // app.go:199
      ids.toSeq
    } finally st.close()
  }

  /** The signal-hook body (app.go:205-216): `cancelAll`, then, for a
    * `jdbc:mysql` source only, `killTagged` over one fresh connection.
    * Never throws: a sweep that cannot connect within 5 s is skipped. */
  def onShutdown(spark: SparkSession, source: Jdbc.ConnInfo): Unit = {
    cancelAll(spark)
    if (source.url.startsWith("jdbc:mysql:")) Try {
      val props = source.props
      props.setProperty("connectTimeout", "5000")
      val c = DriverManager.getConnection(source.url, props)
      try killTagged(c) finally c.close()
    }
  }
}
