package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AdaptiveJoin, CorpusAuditQueries, EvalMetricQueries, GraphQueries}

/** Dev-only: write `.explain("formatted")` of named queries to files —
  * the plans/rNN before/after evidence the optimization rounds commit.
  *
  *   sbt 'runMain graft.PlanDump plans/r13 _after q296_adamic_adar ...'
  *
  * writes plans/r13/q296_adamic_adar_after.txt etc. (sfDir defaults to
  * sf0.1; pass a /path argument to override).
  */
object PlanDump {
  /** Synthetic entries for sub-pipelines a query materializes behind a
    * localCheckpoint (whose formatted plan would otherwise collapse to a
    * LogicalRDD leaf): the builder the query calls, un-checkpointed, so
    * the dump shows the real candidate/verify shape.
    */
  private val builders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sub_q410_ppjoin_micro" -> CorpusAuditQueries.q410PairTable _,
    "sub_q353_slice" -> adamicAdarSlice _)

  /** Slice 0 of q353's staged loop, un-checkpointed, built from the same
    * inputs the loop uses (checkpointed weight table, measured anti-join
    * pick) so the fanout/aggregate shape is visible.
    */
  private def adamicAdarSlice(s: SparkSession, dir: String): DataFrame = {
    val (pairs, sym, wts0) =
      EvalMetricQueries.wedgeInputs(s, dir, EvalMetricQueries.AaCap)
    val leg1 = sym.join(wts0.localCheckpoint(), Seq("w"))
    EvalMetricQueries.sliceTop(s, leg1, sym, pairs, AdaptiveJoin.isSmall(pairs),
      GraphQueries.StagedSlices, 0)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val (names, dirs) = args.drop(2).partition(a => !a.startsWith("/"))
    val dir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = builders.getOrElse(name,
        (s: SparkSession, d: String) => SparkEntry.queries(name)(s, d))
        .apply(spark, dir)
      // queryExecution.explainString avoids stdout capture plumbing
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
