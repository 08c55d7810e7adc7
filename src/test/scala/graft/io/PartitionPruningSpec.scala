package graft.io

import graft.PlanText.PlanTextOps


import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Partition-layout IO: at 100 TB the cheapest rows are the ones never
  * read. Hive-style partitioned parquet + a partition-column predicate
  * must prune at PLAN time (PartitionFilters, not post-scan filters) so
  * a day/status-sliced query touches only its directories.
  */
class PartitionPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("writing partitioned parquet prunes non-matching partitions at read") {
    val dir = graft.TempScratch.fresh("graft_part").toString
    Tables.t(spark, TestSpark.Sf, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)

    val read = spark.read.parquet(dir).filter($"o_orderstatus" === "F")
    val scan = read.planText

    // the predicate must land in PartitionFilters (pruned listing),
    // not in DataFilters/PushedFilters (read-then-drop)
    assert(scan.contains("PartitionFilters: [isnotnull(o_orderstatus"), scan)
    // pruning is meaningful (several status directories exist) and the
    // row counts must match the unpartitioned filter exactly
    val statuses = Tables.t(spark, TestSpark.Sf, "orders")
      .select("o_orderstatus").distinct().count()
    assert(statuses > 1)
    val expected = Tables.t(spark, TestSpark.Sf, "orders")
      .filter($"o_orderstatus" === "F").count()
    assert(read.count() == expected)

    // partition-column pruning composes with column pruning: reading 2
    // columns must not schema-read the rest
    val narrow = spark.read.parquet(dir)
      .filter($"o_orderstatus" === "F").select("o_orderkey")
    val narrowScan = narrow.planText
    assert(narrowScan.contains("ReadSchema: struct<o_orderkey:bigint>"), narrowScan)
  }
}
