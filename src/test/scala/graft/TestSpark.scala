package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** A registered query body by name, for specs that pin one operator. */
  def q(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)
}
