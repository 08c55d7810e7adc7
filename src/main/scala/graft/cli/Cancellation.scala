package graft.cli

import java.sql.Connection

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.io.StatementRegistry

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
    * root.go:62-64): all Spark jobs in the group AND every registered
    * driver-side JDBC statement. */
  def cancelAll(spark: SparkSession): Unit = {
    spark.sparkContext.cancelJobGroup(GroupId)
    StatementRegistry.cancelAll()
  }

  /** The reference's cleanDBconn (cmd/app.go:186-202): find every source-
    * side session still running a tagged query and `KILL QUERY` it.
    * Returns the killed ids. Used from the shutdown path when a source
    * connection is available — covers executors' in-flight page reads,
    * which hold statements this driver JVM cannot see. */
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

  /** Install the reference's signal-hook behavior on the driver JVM. */
  def installShutdownHook(spark: SparkSession): Unit =
    sys.addShutdownHook { cancelAll(spark) }
}
