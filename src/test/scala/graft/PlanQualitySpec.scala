package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Scale-readiness checks on the physical plans themselves: pushdown,
  * pruning, broadcast choice. These are the properties that decide
  * whether a plan survives a 100 TB input, asserted at test scale.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def explained(df: org.apache.spark.sql.DataFrame): String =
    PlanText.planStr(df)

  test("filters are pushed to the parquet scan") {
    val df = Tables.t(spark, TestSpark.Sf, "lineitem")
      .filter($"l_orderkey" > 100).select("l_orderkey", "l_quantity")
    val plan = explained(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]"),
      s"missing pushed filter in:\n$plan")
  }

  test("column pruning reaches the scan (ReadSchema)") {
    val df = Tables.t(spark, TestSpark.Sf, "lineitem").select("l_orderkey", "l_quantity")
    val plan = explained(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection needs:\n$plan")
  }

  test("q10 join_agg broadcasts the small dimension tables") {
    val plan = explained(SparkEntry.queries("q10_join_agg")(spark, TestSpark.Sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("q11 sort+limit compiles to TakeOrderedAndProject (no global sort)") {
    val plan = explained(SparkEntry.queries("q11_sort_limit")(spark, TestSpark.Sf))
    assert(plan.contains("TakeOrderedAndProject"), s"global sort used for top-k:\n$plan")
  }

  test("q01 aggregation is map-side combined (partial HashAggregate)") {
    val plan = explained(SparkEntry.queries("q01_agg")(spark, TestSpark.Sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 2, // partial + final
      s"no two-phase aggregate in:\n$plan")
  }

  test("q24 brute-force ANN broadcasts the query side (candidate scan never shuffles)") {
    val df = SparkEntry.queries("q24_ann_bruteforce")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("q21 minhash candidate join is an equi-join on band key, not a cross join") {
    val df = SparkEntry.queries("q21_dedup_minhash")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation degenerated into a cross join:\n$plan")
  }

  test("q18 language scoring is a broadcast join, not a lambda filter") {
    val df = SparkEntry.queries("q18_text_langid")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastHashJoin"), s"stopword join not broadcast:\n$plan")
    assert(!plan.contains("ArrayFilter"), s"interpreted lambda filter in plan:\n$plan")
  }

  test("q23/q54 pair generation never degenerates into a cross join") {
    Seq("q23_dedup_ngram", "q54_dedup_components").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert(!plan.contains("CartesianProduct"), s"$q uses a cartesian product:\n$plan")
    }
  }

  test("q47 k-means centroids are broadcast in assignment") {
    val df = SparkEntry.queries("q47_ann_ivf_kmeans")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroid/query side not broadcast:\n$plan")
  }

  test("q47 assignment materializes once: both cell-join sides read the checkpoint") {
    val df = SparkEntry.queries("q47_ann_ivf_kmeans")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // query side + candidate side must both read the materialized
    // assignment RDD; the Lloyd training chain sits behind the
    // localCheckpoint so it cannot appear (= re-execute) in the search
    val scans = "Scan ExistingRDD".r.findAllIn(plan).length +
      "InMemoryTableScan".r.findAllIn(plan).length
    assert(scans >= 2, s"assignment not reused on both join sides:\n$plan")
    assert(!plan.contains("posexplode"),
      s"k-means training chain leaked into the search plan:\n$plan")
  }

  test("q112 multi-probe search join is a broadcast equi-join on cluster_id") {
    val df = SparkEntry.queries("q112_ann_ivf_multiprobe")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the probe side (nprobe rows per query) must broadcast into an
    // equi-join against the cell assignment — BHJ, not a cartesian
    assert(plan.contains("BroadcastHashJoin"), s"search join not a broadcast equi-join:\n$plan")
  }

  test("q113 trained multi-probe: no training leak, broadcast search join") {
    val df = SparkEntry.queries("q113_ann_ivf_kmeans_multiprobe")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("posexplode"),
      s"k-means training chain leaked into the multi-probe search plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"search join not broadcast:\n$plan")
  }

  test("q114 vocabulary is a top-V (no global sort) broadcast into the per-doc pass") {
    val df = SparkEntry.queries("q114_vocab_oov")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("TakeOrderedAndProject"), s"vocab must be top-V, not sort+limit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$plan")
  }

  test("q115 dup-gram join stays an equi-join on the n-gram (no cross join)") {
    val df = SparkEntry.queries("q115_dupgram_rate")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"dup-gram join degenerated:\n$plan")
  }

  test("q86 tf-idf folds the corpus count into the DAG (no driver-side count job)") {
    val df = SparkEntry.queries("q86_tfidf")(spark, TestSpark.Sf)
    // n_docs must be a scalar aggregate INSIDE the plan (the oracle's
    // CROSS JOIN nd), not a literal baked in by a driver-side count()
    val logical = df.queryExecution.analyzed.toString
    assert(logical.contains("n_docs"), s"no in-DAG n_docs aggregate:\n$logical")
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"scalar n_docs not broadcast-cross-joined into the DAG:\n$plan")
  }

  test("ANN top-k gets WindowGroupLimit (partial per-partition top-k before shuffle)") {
    // the rank()<=k filter lets Spark keep only k rows per key per
    // partition ahead of the window sort — at scale this caps the
    // shuffle at |keys|·k rows instead of the full candidate stream
    val df = SparkEntry.queries("q24_ann_bruteforce")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("whole-stage codegen covers the q01 pipeline (AQE final plan)") {
    val df = SparkEntry.queries("q01_agg")(spark, TestSpark.Sf)
    df.collect() // AQE only materializes the final plan after execution
    // raw toString on purpose: the "*(n)" codegen prefix exists only in
    // the rendered tree string, not in per-node simpleString; the span
    // is at the plan root so exchange reuse cannot hide it
    val plan = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the compact plan string
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined, s"no codegen span in:\n$plan")
  }

  test("q77 lateral top-k runs WindowGroupLimit map-side before the shuffle") {
    val df = SparkEntry.queries("q77_lateral_topk")(spark, TestSpark.Sf)
    df.collect()
    val plan = explained(df)
    // the Partial group-limit (before the exchange) is what bounds the
    // shuffle to <= k rows per key at 100 TB
    assert(plan.contains("WindowGroupLimit") &&
      (plan.contains("Partial") || plan.contains("row_number(), 2")), plan)
  }

  test("q92 content checksum is one scan + two-phase aggregate (no sort, no join)") {
    val df = SparkEntry.queries("q92_content_checksum")(spark, TestSpark.Sf)
    df.collect()
    val plan = explained(df).split("== Initial Plan ==").head
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
    // the only sort is the 16-row output ORDER BY; the scan feeds the
    // partial aggregate directly
    assert(plan.contains("FileScan parquet"), plan)
  }

  test("q97 prefix-filter candidate join is an equi-join on the prefix token") {
    val df = SparkEntry.queries("q97_dedup_prefix_filter")(spark, TestSpark.Sf)
    val plan = explained(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q106 packing: group offsets broadcast; corpus-wide window stays partitioned") {
    val df = SparkEntry.queries("q106_sequence_packing")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the per-group cumsum windows are partitioned by grp (parallel);
    // only the tiny per-group offset table is single-partition, and it
    // reaches the docs through a broadcast join
    assert(plan.contains("BroadcastHashJoin"), s"group offsets not broadcast:\n$plan")
    assert(plan.contains("partitionBy") || plan.contains("grp"), plan)
  }

  test("q108 contamination joins on the n-gram string (no cross join)") {
    val df = SparkEntry.queries("q108_contamination")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"contamination screen degenerated into a cross join:\n$plan")
  }

  test("q105 repetition signals aggregate map-side (two-phase HashAggregate)") {
    val df = SparkEntry.queries("q105_repetition_signals")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, s"no two-phase aggregate:\n$plan")
  }

  test("q116/q117 normalisation + redaction are map-only inside codegen (no agg, no join)") {
    // per-row scrubbing must stay scan-rate at 100 TB: a single codegen'd
    // project over the file scan, no exchange beyond the output ORDER BY
    Seq("q116_unicode_normalize", "q117_pii_redact").foreach { q =>
      val df = SparkEntry.queries(q)(spark, TestSpark.Sf)
      df.collect() // AQE only materializes the final (codegen'd) plan after execution
      val plan = PlanText.planStr(df)
      assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
        s"$q is not map-only:\n$plan")
      assert(PlanText.finalNodes(df).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
        s"$q fell out of whole-stage codegen:\n$plan")
    }
  }

  test("q118 chunking is a map-side explode (no shuffle before the output sort)") {
    val df = SparkEntry.queries("q118_doc_chunking")(spark, TestSpark.Sf)
    val plan = explained(df)
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"chunker should be generate+project only:\n$plan")
    assert(plan.contains("Generate explode"), s"no explode in:\n$plan")
  }

  test("q120 split-leakage probe joins on the 5-gram string (no cross join)") {
    val df = SparkEntry.queries("q120_split_leakage")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"leakage probe degenerated into a cross join:\n$plan")
  }

  test("q121 unigram logprob folds the corpus total into the DAG; token join is equi") {
    val df = SparkEntry.queries("q121_unigram_logprob")(spark, TestSpark.Sf)
    // the scalar total must be an aggregate INSIDE the plan, not a
    // driver-side count() baked in as a literal (the q86 rule)
    val logical = df.queryExecution.analyzed.toString
    assert(logical.contains("count(1)"), s"no in-DAG corpus total:\n$logical")
    df.collect()
    val plan = PlanText.planStr(df)
    // exactly one deliberate scalar broadcast (the 1-row total); the
    // token->logprob join itself must stay an equi-join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"scalar total not broadcast into the DAG:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), s"token join missing/degenerate:\n$plan")
  }

  test("q122 sorted-neighborhood window partitions by block (no single-partition window)") {
    val df = SparkEntry.queries("q122_sorted_neighborhood")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the SNM window must shuffle on the block key, never collapse the
    // corpus into one partition; and there is no join at all — the
    // neighbor pairing is window-local
    assert(plan.contains("hashpartitioning(blk"), s"window not partitioned by block:\n$plan")
    assert(!plan.contains("Join"), s"SNM should be join-free:\n$plan")
    // both neighbor offsets must come out of one window pass — a
    // per-offset union would scan + shuffle + window the corpus twice
    assert("Exchange hashpartitioning\\(blk".r.findAllIn(plan).length == 1,
      s"block shuffle duplicated across offset branches:\n$plan")
  }

  test("q124 bigram model joins are all equi (bigram/prev keys, no cross join)") {
    val df = SparkEntry.queries("q124_bigram_logprob")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"bigram model join degenerated:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"bigram counts not map-side combined:\n$plan")
  }

  test("q125 profile avoids the Expand shape (stack unpivot, map-side dedup)") {
    val df = SparkEntry.queries("q125_table_profile")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the wide multi-count-distinct form would show an Expand duplicating
    // every row per column ahead of the shuffle
    assert(!plan.contains("Expand"), s"profile degenerated into Expand:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"per-value aggregate not map-side combined:\n$plan")
  }

  test("q126 robust outliers: histogram medians, source-partitioned windows, equi joins") {
    val df = SparkEntry.queries("q126_robust_outliers")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"median join degenerated:\n$plan")
    // the median windows run over the bounded histogram, partitioned by
    // source — never a single-partition corpus-wide window
    assert(plan.contains("hashpartitioning(source"), s"window not source-partitioned:\n$plan")
    // and no sort-buffering percentile aggregate anywhere
    assert(!plan.contains("percentile"), s"percentile agg leaked in:\n$plan")
  }

  test("q127 KL drift: equi joins on token, in-DAG corpus scalar, no double-sum") {
    val df = SparkEntry.queries("q127_kl_drift")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // exactly one deliberate scalar cross join (the broadcast total);
    // the token joins stay equi
    assert("BroadcastNestedLoopJoin|CartesianProduct".r.findAllIn(plan).length <= 1,
      s"more than the one scalar cross join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), s"token join missing:\n$plan")
  }

  test("q128 heavy hitters bound the shuffle via WindowGroupLimit") {
    val df = SparkEntry.queries("q128_heavy_hitters")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k did not compile to WindowGroupLimit:\n$plan")
  }

  test("q129 novelty attribution joins on the gram string (no cross join)") {
    val df = SparkEntry.queries("q129_temporal_novelty")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"novelty join degenerated:\n$plan")
  }

  test("q130 cohesion: two-phase aggregates over the dim explode, per-label equi join") {
    val df = SparkEntry.queries("q130_cluster_cohesion")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"label join degenerated:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"dim sums not map-side combined:\n$plan")
  }

  test("q132 paragraph dedup: block-frequency join is an equi-join, two-phase agg") {
    val df = SparkEntry.queries("q132_paragraph_dedup")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"block join degenerated:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"block frequency not hash-aggregated:\n$plan")
  }

  test("q133 span coverage: gram join stays equi, islands are one window pass per doc") {
    val df = SparkEntry.queries("q133_dup_span_coverage")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"gram join degenerated:\n$plan")
  }

  test("q134 BPE pairs: top-32 via TakeOrderedAndProject, vocab aggregated before pair explode") {
    val df = SparkEntry.queries("q134_bpe_pairs")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("TakeOrderedAndProject"), s"top-32 global-sorted:\n$plan")
    // the word-frequency aggregate must run below the pair explode —
    // generate appearing above an aggregate in the plan tree
    assert(plan.contains("Generate") && plan.contains("HashAggregate"),
      s"vocab-first shape missing:\n$plan")
  }

  test("q135 hard negatives: query side broadcast, WindowGroupLimit caps the shuffle") {
    val df = SparkEntry.queries("q135_hard_negatives")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("q136 degree dist: band join stays equi, degree rollup is hash-aggregated") {
    val df = SparkEntry.queries("q136_dedup_degree_dist")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated:\n$plan")
    assert(plan.contains("HashAggregate"), s"degree rollup not hash-aggregated:\n$plan")
  }

  test("q137 prefix clusters: pure groupBy on the prefix key, no joins at all") {
    val df = SparkEntry.queries("q137_prefix_clusters")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Join"), s"prefix clustering should not join:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"prefix aggregate not two-phase:\n$plan")
  }

  test("q139 calibration: candidate generation is the band equi-join, not a cross join") {
    val df = SparkEntry.queries("q139_minhash_calibration")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"calibration pair join degenerated:\n$plan")
  }

  test("q140 priority sample: rank<=k compiles to WindowGroupLimit") {
    val df = SparkEntry.queries("q140_priority_sample")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }

  test("q141 partitioned read: source predicate resolves as a PartitionFilter at planning time") {
    val df = SparkEntry.queries("q141_partition_prune")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("PartitionFilters") && plan.matches("(?s).*PartitionFilters: \\[[^\\]]*source[^\\]]*\\].*"),
      s"source filter not a partition filter:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*n_chars[^\\]]*\\].*"),
      s"n_chars filter not pushed to the scan:\n$plan")
  }

  test("q142 bucketed join: no exchange below the SortMergeJoin (bucketing consumed)") {
    val df = SparkEntry.queries("q142_bucketed_join")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("SortMergeJoin"), s"merge hint not honored:\n$plan")
    val belowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"),
      s"bucketed join still shuffles its inputs:\n$plan")
  }

  test("q143 ORC read: quantity predicate pushed into the ORC scan") {
    val df = SparkEntry.queries("q143_orc_roundtrip")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      s"l_quantity filter not pushed to the ORC scan:\n$plan")
  }

  test("q144 native sessions: both aggregates share the one user_id shuffle") {
    val df = SparkEntry.queries("q144_session_window_native")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("SessionWindow") || plan.contains("session_window"),
      s"native session window missing:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1,
      s"per-user rollup re-shuffled ($hashExchanges hash exchanges):\n$plan")
  }

  test("q146 DPP: fact scan carries a dynamic-pruning subquery on source") {
    val df = SparkEntry.queries("q146_dynamic_partition_prune")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
  }

  test("q147 zone maps: pure two-phase aggregates, no join anywhere") {
    val df = SparkEntry.queries("q147_zone_map_skipping")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Join"), s"zone-map audit should not join:\n$plan")
    assert(plan.contains("HashAggregate"), s"bucket stats not hash-aggregated:\n$plan")
  }

  test("q148 skew diagnosis: union of bounded aggregates, no join") {
    val df = SparkEntry.queries("q148_skew_diagnosis")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Join"), s"skew diagnosis should not join:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"key frequency not two-phase:\n$plan")
  }

  test("q149 CDC compaction: latest-per-key is WindowGroupLimit, apply is an equi-join") {
    val df = SparkEntry.queries("q149_cdc_compaction")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"CDC apply degenerated:\n$plan")
  }

  test("q131 separation: pair join is an equi-join on the dimension index") {
    val df = SparkEntry.queries("q131_cluster_separation")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"centroid pair join degenerated:\n$plan")
  }

  test("q119 zipf fit: top-64 via TakeOrderedAndProject, two-phase token aggregate") {
    val df = SparkEntry.queries("q119_zipf_fit")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-64 must not be a global sort:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"token counts not map-side combined:\n$plan")
  }

  test("q150 bloom filter: bitmap and dim both broadcast — fact never shuffles for the joins") {
    val df = SparkEntry.queries("q150_bloom_runtime_filter")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"bitmap/dim join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side shuffled for a tiny build side:\n$plan")
  }

  test("q151 co-occurrence: pair generation is an equi-join on the order key") {
    val df = SparkEntry.queries("q151_cooccurrence_pairs")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-32 must not be a global sort:\n$plan")
  }

  test("q152 incremental view: delta join broadcasts the dim; base is never joined row-wise") {
    val df = SparkEntry.queries("q152_incremental_view")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastHashJoin"), s"changelog dim join not broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"base/delta aggregates not two-phase:\n$plan")
  }

  test("q154 json roundtrip: column pruning reaches the scan — text is never parsed") {
    val df = SparkEntry.queries("q154_json_roundtrip")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("FileScan json"), s"not a json scan:\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("text"),
      s"wide column not pruned from the json parser: $readSchema")
  }

  test("q155 count-min: sketch probe is a broadcast join, sketch built two-phase") {
    val df = SparkEntry.queries("q155_countmin_sketch")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastHashJoin"), s"sketch probe not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"probe join degenerated:\n$plan")
  }

  test("q156 inverted index: top-32 by df is TakeOrderedAndProject, no cartesian") {
    val df = SparkEntry.queries("q156_inverted_index")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for a top-32:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"degenerate join:\n$plan")
  }

  test("q157 weighted sample: per-source top-5 gets WindowGroupLimit map-side") {
    val df = SparkEntry.queries("q157_weighted_sample")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed below the window shuffle:\n$plan")
  }

  test("q158 knn graph: candidate generation is the bucket equi-join, never all-pairs") {
    val df = SparkEntry.queries("q158_knn_graph")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"bucket self-join degenerated to all-pairs:\n$plan")
    assert(plan.contains("Window"), s"top-k rank window missing:\n$plan")
  }

  test("q159 zorder: bounds are one in-DAG scalar broadcast; stats are two-phase") {
    val df = SparkEntry.queries("q159_zorder_layout")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"dim bounds not broadcast into the DAG (q86 rule):\n$plan")
    assert(plan.contains("Window"), s"layout assignment window missing:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"per-file stats not hash-aggregated:\n$plan")
  }

  test("q160 triangles: wedge join is an equi-join over the checkpointed oriented edges") {
    val df = SparkEntry.queries("q160_triangle_count")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"wedge join missing/degenerate:\n$plan")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"oriented edge list not checkpointed (wedge join re-derives it):\n$plan")
  }

  test("q161 star contraction: components read the checkpointed star edges, no cartesian") {
    val df = SparkEntry.queries("q161_cc_star")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"component summary degenerated:\n$plan")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"star edge fixpoint not checkpointed:\n$plan")
  }

  test("q162 containment: candidates come from the band equi-join, never all-pairs") {
    val df = SparkEntry.queries("q162_containment")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"containment candidate join degenerated to all-pairs:\n$plan")
  }

  test("q163 compaction plan: manifest window + two-phase bin stats, no joins") {
    val df = SparkEntry.queries("q163_compaction_plan")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("Window"), s"running-sum window missing:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join in a metadata-only plan:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"bin stats not two-phase:\n$plan")
  }

  test("q164 hll: register table is a two-phase aggregate, audit join stays equi") {
    val df = SparkEntry.queries("q164_hll_sketch")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"audit join degenerated:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"register/sketch aggregates not two-phase:\n$plan")
  }

  test("q165 join forecast: never touches a row-level join — only key-count tables meet") {
    val df = SparkEntry.queries("q165_join_size_forecast")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"forecast degenerated to a row-level product:\n$plan")
    assert(plan.contains("FullOuter"), s"key full-outer missing:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"per-key frequency aggregates not two-phase:\n$plan")
  }

  test("q166 k-core: rounds are semi-joins against checkpointed survivors") {
    val df = SparkEntry.queries("q166_kcore_peel")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct"),
      s"peel round degenerated:\n$plan")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"per-round edge checkpoints missing (lineage not flat):\n$plan")
  }

  test("q167 mrl audit: both brute-force passes broadcast the query side") {
    val df = SparkEntry.queries("q167_mrl_truncation")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"prepared embeddings not checkpointed across the two passes:\n$plan")
  }

  test("q168 seasonal monitor: per-slot aggregates two-phase, baseline join stays equi") {
    val df = SparkEntry.queries("q168_seasonal_anomaly")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"baseline join degenerated:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"hourly count aggregate not two-phase:\n$plan")
  }

  test("q169 entropy: one explode, two partial-aggregable rollups, no joins") {
    val df = SparkEntry.queries("q169_char_entropy")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Join"), s"unexpected join in a per-doc pipeline:\n$plan")
    assert(plan.contains("Generate"), s"char explode missing:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"char-count aggregate not two-phase:\n$plan")
  }

  test("q170 triples: order-key equi-joins, top-32 is TakeOrderedAndProject") {
    val df = SparkEntry.queries("q170_frequent_triples")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triple expansion degenerated to a product:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-32 not TakeOrderedAndProject:\n$plan")
  }

  test("q171 path mining: one session-key window, no joins, two-phase path counts") {
    val df = SparkEntry.queries("q171_path_mining")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Join"), s"unexpected join in a window-only pipeline:\n$plan")
    assert(plan.contains("Window"), s"lead() window missing:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"path counts not two-phase:\n$plan")
  }

  test("q172 decay: anchor is an in-DAG broadcast scalar; weights aggregate two-phase") {
    val df = SparkEntry.queries("q172_decayed_popularity")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
      s"anchor date not broadcast into the DAG (q86 rule):\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"decayed sums not two-phase:\n$plan")
  }

  test("q173 rrf: both retrieval lists truncate via TakeOrderedAndProject before fusion") {
    val df = SparkEntry.queries("q173_hybrid_rrf")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      s"top-20 truncation not map-side on both lists:\n$plan")
    assert(plan.contains("FullOuter"), s"fusion full-outer missing:\n$plan")
  }

  test("q153 pagerank: iterations reuse the checkpointed edge list, no cartesian") {
    val df = SparkEntry.queries("q153_pagerank")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"rank propagation degenerated:\n$plan")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"edge list not checkpointed (re-derives lineage every iteration):\n$plan")
  }

  test("q255 advisor: run statistics windows partition by (cname, bkt), not cname alone") {
    val df = SparkEntry.queries("q255_encoding_advisor")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the distributed form: every corpus-sized window keys on the bucket —
    // a cname-only partitioning would drag all rows through 4 partitions
    assert(plan.contains("hashpartitioning(cname") && plan.contains("bkt"),
      s"bucketed window partitioning missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"advisor degenerated:\n$plan")
  }

  test("q251 bfs: frontier expansion is an equi-join over the checkpointed edges") {
    val df = SparkEntry.queries("q251_multi_source_bfs")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"frontier expansion degenerated to a product:\n$plan")
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
      s"edge list / distance table not checkpointed:\n$plan")
  }

  test("q272 local clustering: wedge join and closure are equi-joins, corner explode present") {
    val df = SparkEntry.queries("q272_local_clustering")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration degenerated to a product:\n$plan")
    assert(plan.contains("Generate"), s"triangle corner explode missing:\n$plan")
    assert(plan.contains("LeftSemi"), s"closure not a semi-join:\n$plan")
  }

  test("q256 fastss: candidates come from a variant equi-join, never a cross product") {
    val df = SparkEntry.queries("q256_fuzzy_join_fastss")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degenerated to |U|x|V|:\n$plan")
    // the verify is the native codegen'd expression (executed-plan tree
    // strings truncate long projects, so check the analyzed plan)
    assert(df.queryExecution.analyzed.toString.contains("levenshtein"),
      "native levenshtein verify missing from the plan")
  }

  // ----- round-9 flagship shapes (the engineering each one headlines) -----

  test("q321 capped AA: the deg<=cap filter sits INSIDE the wedge fanout join") {
    // the whole point of the dial: capped centers never fan out. The
    // optimized plan must show exactly one x<x2 wedge join, and the
    // cap filter (deg <= AaCap) strictly below it — a refactor that
    // caps AFTER the self-join would stay oracle-green while
    // restoring the full Σdeg² cost.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Filter => LFilter}
    val df = SparkEntry.queries("q321_adamic_adar_capped")(spark, TestSpark.Sf)
    val plan = df.queryExecution.optimizedPlan
    val fanouts = plan.collect {
      case j: Join if j.condition.exists(_.toString.contains(" < ")) => j
    }
    assert(fanouts.size == 1, s"expected exactly one wedge fanout join:\n$plan")
    val capBelow = fanouts.head.children.exists(_.collectFirst {
      case f: LFilter
          if f.condition.toString.contains(s"<= ${operators.EvalMetricQueries.AaCap}") => f
    }.isDefined)
    assert(capBelow, s"cap filter not below the wedge fanout join:\n$plan")
    // and nothing above the fanout re-filters on deg — the cap is the
    // ONLY degree gate, applied once, before the fanout
    val capAbove = plan.collectFirst {
      case f: LFilter
          if f.condition.toString.contains(s"<= ${operators.EvalMetricQueries.AaCap}") &&
            !fanouts.head.exists(_ eq f) => f
    }
    assert(capAbove.isEmpty, s"a second cap filter sits above the fanout:\n$plan")
  }

  test("q322 typed profile avoids the Expand shape (stack unpivot, map-side dedup)") {
    // same rule as q125: the multi-count-distinct form would Expand
    // every lineitem row 4x ahead of the shuffle
    val df = SparkEntry.queries("q322_column_profile")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Expand"), s"profile degenerated into Expand:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"per-value aggregate not map-side combined:\n$plan")
  }

  test("q340 PPR: every rank-push join sees a frontier-filtered rank side") {
    // locality is the operator's reason to exist: nodes with r=0 must
    // be filtered BELOW the push join, so unreached nodes never join
    // against the edge list. Dropping the r>0 filter would stay
    // oracle-green (0-rank terms add 0) while turning each round into
    // a full-graph push.
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Filter => LFilter}
    import org.apache.spark.sql.catalyst.plans.Inner
    val df = SparkEntry.queries("q340_personalized_pagerank")(spark, TestSpark.Sf)
    val plan = df.queryExecution.optimizedPlan
    def hasFrontierFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectFirst {
        case f: LFilter if f.condition.exists {
          case GreaterThan(_, Literal(v, _)) => v == 0 || v == 0L
          case _ => false
        } => f
      }.isDefined
    val pushJoins = plan.collect { case j: Join if j.joinType == Inner => j }
    assert(pushJoins.nonEmpty, s"no push joins found:\n$plan")
    // 3 unrolled rounds: rounds 2-3 carry the explicit r>0 frontier
    // filter below their push join; round 1's frontier (seeds only)
    // is constant-folded into the seed predicate pushed into the scan
    val filtered = pushJoins.count(j => j.children.exists(hasFrontierFilter))
    assert(filtered >= 2,
      s"frontier filter missing below the rank-push joins ($filtered):\n$plan")
  }

  test("q335 FS weights: agreement stats come from group sizes, never a pair join") {
    // the operator's claim is 'no pair is ever materialized': the only
    // keyed join is the 1:1 truth compare on id, the only unkeyed
    // joins are one-row scalar broadcasts, and NO join keys on the
    // block column (a blk-keyed join of two corpus-sized sides IS the
    // pair enumeration the counts exist to avoid). Asserted on the
    // pre-checkpoint stats DAG (the query hides it behind a
    // localCheckpoint).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = operators.DedupQueries.fsLinkageStats(spark, TestSpark.Sf)
      .queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, s"expected the truth join + scalar crosses:\n$plan")
    joins.foreach { j =>
      j.condition match {
        case Some(c) =>
          assert(!c.references.exists(_.name == "blk"),
            s"pair-enumeration join keyed on the block column:\n$plan")
        case None =>
          // cross joins are only legal between one-row global aggregates
          assert(j.children.forall(_.collectFirst {
            case a: Aggregate if a.groupingExpressions.isEmpty => a
          }.isDefined), s"cross join of non-scalar inputs:\n$plan")
      }
    }
  }

  test("q352 pipeline: one checkpointed funnel scan feeds all three consumers") {
    // the composed pipeline's no-per-stage-rescan rule: the cumulative
    // per-doc flag table is localCheckpointed ONCE and the weight
    // branch, the sampler and the packer all read THAT — the plan must
    // show one LogicalRDD id referenced from >= 3 places. A refactor
    // that re-derived flags per consumer would stay oracle-green while
    // multiplying the funnel cost by the consumer count.
    import org.apache.spark.sql.execution.LogicalRDD
    val df = SparkEntry.queries("q352_curation_pipeline")(spark, TestSpark.Sf)
    val rdds = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRDD => l.rdd.id
    }
    val (topId, uses) = rdds.groupBy(identity).view.mapValues(_.size)
      .maxBy(_._2)
    assert(uses >= 3,
      s"checkpointed funnel referenced $uses time(s) (rdd $topId) — expected the weight, sampler and packer branches to share it")
  }

  test("q352 pipeline: dimension-sized sides broadcast; no cartesian product") {
    // the weight table (<= |sources| rows) and the packer's group
    // offsets (|doc_id range|/65536 rows) must reach their corpus-side
    // joins as broadcasts — a shuffle join keyed on `source` (20
    // values) would be both slow and skewed at 100 TB
    val df = SparkEntry.queries("q352_curation_pipeline")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the pipeline:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"weights/offsets joins not broadcast:\n$plan")
  }

  // ----- round-11 statistics layer ----------------------------------------
  // The scale claim of the whole battery is "ranks/pairs come from
  // bounded grids, never from sorting or pairing the data". These
  // assertions pin the plan shapes that carry that claim.

  test("q356/q357 grid ranks: no global sort of the data; rank grid joins broadcast") {
    for (name <- Seq("q356_mann_whitney", "q357_kruskal_wallis")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      // ranks must come from the per-value grid (two-phase counts), not
      // a whole-table Window over rows: every Sort in the plan feeds a
      // grid-sized window (bucketed by GridCumulative), and the only
      // joins are broadcasts of grid/bounds/offset tables
      assert(!plan.contains("SortMergeJoin"),
        s"$name shuffle-joins a grid-sized table:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).length >= 2,
        s"$name grid counts not two-phase:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$name grid not broadcast:\n$plan")
    }
  }

  test("q358 Kendall: pair mass from the bounded grid self-join, docs never pair") {
    val df = SparkEntry.queries("q358_kendall_tau")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the only nested-loop is grid × grid (both sides aggregates of
    // the scan); the doc scan itself must appear exactly once — a
    // second scan or a sort-merge join would mean the N² pair space
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"grid self-join missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q358 pairs rows outside the bounded grid:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length <= 1,
      s"q358 re-scans the corpus per pair leg:\n$plan")
  }

  test("q359 BH-FDR: seed fan-out partially aggregates before the shuffle") {
    val df = SparkEntry.queries("q359_bh_fdr")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the S×N exploded rows must map-side combine into S×cells partial
    // sums (Generate followed by a partial HashAggregate) — shuffling
    // the fan-out raw would move S copies of the corpus
    assert(plan.contains("Generate explode"),
      s"seed fan-out missing:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4, // perm partial+final, obs partial+final
      s"fan-out not map-side combined:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"permutation/observed join not broadcast:\n$plan")
  }

  test("q361 Theil-Sen: slopes from the broadcast day-grid self-join only") {
    val df = SparkEntry.queries("q361_theilsen_slope")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"day-grid self-join missing:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q361 shuffle-joins the bounded grid:\n$plan")
    // events scanned once into the day grid; medians run on slope rows
    assert("Scan parquet".r.findAllIn(plan).length <= 1,
      s"q361 re-scans events:\n$plan")
  }

  test("q244/q234/q204/q159: every window is partitioned (GridRank/GridCumulative engaged)") {
    // these four carried the last DATA-SCALE unpartitioned windows
    // (doc-scale score ranks, the unbounded logit grid, orders-scale
    // layout ntiles). After adoption, any Window in their plans must
    // declare a partition list — `Window [exprs], [part], [order]` has
    // three bracket groups, the single-task form only two
    for (name <- Seq("q244_spearman_scorers", "q234_conformal_coverage",
        "q204_score_calibration", "q159_zorder_layout")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      val windows = "Window \\[[^\\n]*".r.findAllIn(plan).toSeq
      val partitioned = windows.count(w =>
        "Window \\[[^\\n]*\\], \\[[^\\n]*\\], \\[".r.findFirstIn(w).isDefined)
      // Catalyst folds the constant partitionBy(lit(0)) away on the
      // helpers' <= buckets-row offset tables — those windows order by
      // __bkt and are bounded by construction; anything else
      // unpartitioned is a data-scale single-task window
      val boundedOffsets = windows.count(w =>
        "Window \\[[^\\n]*\\], \\[__bkt#\\d+L ASC".r.findFirstIn(w).isDefined)
      assert(windows.nonEmpty, s"$name lost its windows entirely:\n$plan")
      assert(windows.size == partitioned + boundedOffsets,
        s"$name has ${windows.size - partitioned - boundedOffsets} data-scale unpartitioned window(s):\n${windows.mkString("\n")}")
    }
  }

  test("q360 ERR: per-query windows partition by customer; no join anywhere") {
    val df = SparkEntry.queries("q360_err_ranking")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("Join"), s"ERR needs no join:\n$plan")
    assert(plan.contains("Window") && !plan.contains("No Partition Defined"),
      s"rank window missing or unpartitioned:\n$plan")
  }

  test("q372 ordinal association: pair mass from the bounded grid self-join only") {
    val df = SparkEntry.queries("q372_ordinal_association")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the q358 contract: the only nested-loop is grid × grid; a
    // sort-merge join or cartesian over rows would be the N² pair space
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"grid self-join missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q372 pairs rows outside the bounded grid:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length <= 1,
      s"q372 re-scans lineitem per pair leg:\n$plan")
  }

  test("q378 Jonckheere: 2D dominance count over the grid, no pair join, windows partitioned") {
    val df = SparkEntry.queries("q378_jonckheere")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // pair masses must come from windows over the dense grid — never a
    // row-space join; the only nested-loop is the ≤20-row source-list
    // broadcast that densifies the grid
    assert(!plan.contains("CartesianProduct"),
      s"q378 enumerates pairs:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q378 densify broadcast missing:\n$plan")
    assert(!plan.contains("No Partition Defined"),
      s"q378 has a data-scale unpartitioned window:\n$plan")
  }

  test("q381 Lin CCC: keyed join of the two money streams, never a pair space") {
    val df = SparkEntry.queries("q381_lin_ccc")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // orders ⋈ per-order revenue is an equi-join on the order key (the
    // bucketed-join shape at cluster scale); each table scans once
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q381 joins without the order key:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length <= 2,
      s"q381 re-scans a side:\n$plan")
  }

  test("q382/q383/q386 are one-scan fold aggregates: no join over rows, no window") {
    for (name <- Seq("q382_krippendorff_alpha", "q383_hosmer_lemeshow",
        "q386_mantel_haenszel")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$name shuffles a row join:\n$plan")
      assert(!plan.contains("No Partition Defined"),
        s"$name has a data-scale unpartitioned window:\n$plan")
      assert("Scan parquet".r.findAllIn(plan).length <= 1,
        s"$name scans the corpus more than once:\n$plan")
    }
  }

  test("q385 weighted kappa: margins cross only on the bounded 10x10 grid") {
    val df = SparkEntry.queries("q385_weighted_kappa")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // rt × ct is ≤10 × ≤10 and must broadcast; a sort-merge join or
    // cartesian would mean the expected mass paired data-scale rows
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q385 margin cross not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q385 pairs rows outside the grid:\n$plan")
  }

  test("q387/q388 privacy ladders aggregate without Expand") {
    // the k ladder is a rollup-WITHOUT-Expand by construction: one
    // finest-grid aggregate re-aggregated upward. An Expand node would
    // mean the scan is being multiplied per rung (the q125/q322 rule)
    for (name <- Seq("q387_k_anonymity", "q388_l_diversity")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert(!plan.contains("Expand"), s"$name multiplies the scan:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name row cross:\n$plan")
    }
  }

  test("q389 t-closeness: the class x value grid comes from broadcasts only") {
    val df = SparkEntry.queries("q389_t_closeness")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the full grid (incl. absent cells) is classes × sensitive values —
    // both bounded aggregates; the densify cross and the cell lookup
    // must broadcast, never shuffle-join row-scale relations
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q389 densify broadcast missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q389 shuffle-joins the grid:\n$plan")
  }

  test("q390 Good-Turing: successor lookup is a broadcast join, not a global window") {
    val df = SparkEntry.queries("q390_good_turing")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // N_{r+1} must come from the r+1 self-join on the count-of-counts
    // grid; a lead() window here would single-task the whole grid
    assert(!plan.contains("No Partition Defined"),
      s"q390 single-tasks the count grid:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q390 successor join not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q390 bottom-10 uses a global sort:\n$plan")
  }

  test("q392/q393 split+normalize: windows partition by stratum, grids broadcast") {
    for (name <- Seq("q392_stratified_split", "q393_quantile_normalization")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert(!plan.contains("No Partition Defined"),
        s"$name single-tasks a data-scale window:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
        s"$name shuffle-joins what should broadcast:\n$plan")
    }
  }

  test("q394 Benford: digit spine broadcast, two-phase count aggregate") {
    val df = SparkEntry.queries("q394_benford_audit")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"q394 digit counts not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"q394 shuffle-joins the 9-row spine:\n$plan")
  }

  test("q395 conformal: quantile via broadcast interval join, no global sort") {
    val df = SparkEntry.queries("q395_conformal_coverage")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the order statistic must come from the bounded value grid — a
    // data-scale sort or unpartitioned rank window would be wrong
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q395 interval lookup not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q395 shuffle-joins the grid:\n$plan")
  }

  test("q396 LSH planner: candidates from the band equi-join, spine math broadcast") {
    val df = SparkEntry.queries("q396_lsh_planner")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // candidate generation must stay the q21 band equi-join — an
    // all-pairs cartesian over docs would defeat the planner's point
    assert(!plan.contains("CartesianProduct"),
      s"q396 enumerates all pairs:\n$plan")
    assert(!plan.contains("No Partition Defined"),
      s"q396 single-tasks a window:\n$plan")
  }

  test("q397 waterfill: one scan, fold over the source table only") {
    val df = SparkEntry.queries("q397_token_budget_allocation")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert("Scan parquet".r.findAllIn(plan).length <= 1,
      s"q397 re-scans the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q397 shuffle-joins the 20-row table:\n$plan")
  }

  test("q398/q399 day-grid diagnostics: one events scan, grid-only joins") {
    for (name <- Seq("q398_overdispersion", "q399_regression_influence")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert("Scan parquet".r.findAllIn(plan).length <= 1,
        s"$name re-scans events:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$name shuffle-joins the day grid:\n$plan")
    }
  }

  test("q400 Holm: permutation fan-out partially aggregates before the shuffle") {
    val df = SparkEntry.queries("q400_holm_fwer")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    // the q359 contract on the shared fdrPvals pipeline: the seed
    // fan-out must map-side combine to seeds × cells before shuffling
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"q400 permutation sums not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q400 row-level cross:\n$plan")
  }

  test("q401/q402/q403 embedding audits: one scan, two-phase aggregates, no joins over rows") {
    for (name <- Seq("q401_embedding_isotropy", "q402_lsh_bucket_balance",
        "q403_quantization_error")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert("Scan parquet".r.findAllIn(plan).length <= 1,
        s"$name re-scans embeddings:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$name shuffle-joins rows:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).length >= 2,
        s"$name not map-side combined:\n$plan")
    }
  }

  test("q405/q406 KMV sketch algebra: one token pass, map-side combined to k-buffers") {
    for (name <- Seq("q405_sketch_overlap_matrix", "q406_vocab_novelty_curve")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      // the sketch shuffles k longs per source, not the token stream:
      // partial buffer aggregation must sit below the exchange
      assert(plan.contains("partial_kmvbuffermd5"),
        s"$name buffer build not map-side combined:\n$plan")
      // no (source, token) pre-distinct — the buffer IS the dedup
      assert(!"HashAggregate\\(keys=\\[[^\\]]*tok".r.findFirstIn(plan).isDefined,
        s"$name materializes a distinct token set:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name row-level cross join:\n$plan")
    }
    // the pair matrix reuses ONE buffer build for both join legs
    val df = SparkEntry.queries("q405_sketch_overlap_matrix")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(plan.contains("ReusedExchange"),
      s"q405 recomputes the token pass for the second leg:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"q405 pair join not broadcast:\n$plan")
  }

  test("q407/q409 curation dials: broadcast grids, gram-keyed joins, no row-level cross") {
    val df7 = SparkEntry.queries("q407_epoch_allocation")(spark, TestSpark.Sf)
    df7.collect()
    val p7 = PlanText.planStr(df7)
    // the only joins are broadcasts of the 4-row decay grid and the
    // 1-row total; source stats map-side combine
    assert(!p7.contains("CartesianProduct"), s"q407 row-level cross:\n$p7")
    assert(!p7.contains("SortMergeJoin"), s"q407 shuffles a roster join:\n$p7")
    assert("HashAggregate".r.findAllIn(p7).length >= 2,
      s"q407 source stats not map-side combined:\n$p7")
    val df9 = SparkEntry.queries("q409_idf_contamination")(spark, TestSpark.Sf)
    df9.collect()
    val p9 = PlanText.planStr(df9)
    // the n-gram is its own blocking key: every data-scale join is an
    // equi-join on it; the corpus-size scalar broadcasts
    assert(!p9.contains("CartesianProduct"), s"q409 row-level cross:\n$p9")
    assert(p9.contains("BroadcastNestedLoopJoin") || p9.contains("BroadcastExchange"),
      s"q409 corpus-size scalar not broadcast:\n$p9")
  }

  test("q410/q411 threshold sweeps: token-keyed candidate joins, never all-pairs") {
    // the prefix-filter candidate join must be an equi-join on the
    // prefix token (hash-partitionable at any scale), never a cross
    val pf = graft.ext.Dedup.prefixFilterPairsMicro(
      Tables.t(spark, TestSpark.Sf, "documents").select(
        $"doc_id".as("id"),
        graft.ext.TextAnalysis.charNgramInts($"text", 3).as("grams")), 700000L)
    pf.collect()
    val p = PlanText.planStr(pf)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filter enumerates a pair space:\n$p")
    assert(p.contains("tok"), s"candidate join lost its token key:\n$p")
    // the LSH sweep joins candidates on (band_idx, band_key)
    val df11 = SparkEntry.queries("q411_lsh_recall_curve")(spark, TestSpark.Sf)
    df11.collect()
    val p11 = PlanText.planStr(df11)
    assert(!p11.contains("CartesianProduct"), s"q411 row-level cross:\n$p11")
  }

  test("q412/q413/q414 migration audits: pre-aggregated anti joins, pruned scans, no joins in profiles") {
    val df12 = SparkEntry.queries("q412_fk_orphan_audit")(spark, TestSpark.Sf)
    df12.collect()
    val p12 = PlanText.planStr(df12)
    // child keys aggregate BEFORE the anti join: shuffle volume is the
    // distinct key set, and the join itself is a key-equi anti join.
    // Assert the join TYPE on the optimized logical plan — the r12
    // flake was this check grepping the AQE final-plan string, where
    // the anti join can lawfully VANISH at runtime (empty-relation
    // propagation when the orphan side is empty) or hide behind a
    // reuse pointer depending on session-wide exchange state.
    assert(PlanText.logicalJoinTypes(df12)
        .contains(org.apache.spark.sql.catalyst.plans.LeftAnti),
      s"q412 lost its anti join (optimizedPlan):\n${df12.queryExecution.optimizedPlan}")
    assert(!p12.contains("CartesianProduct"), s"q412 row-level cross:\n$p12")
    for (name <- Seq("q413_numeric_width_audit", "q414_string_width_audit")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      // pure single-scan profiles: no join anywhere, and every scan is
      // pruned to its audited column
      assert(!plan.contains("Join"), s"$name joins:\n$plan")
      assert(!"ReadSchema: struct<[^>]*,[^>]*,".r.findFirstIn(plan).isDefined,
        s"$name scans more than 2 columns somewhere:\n$plan")
    }
  }

  test("q391 Kneser-Ney: per-doc windows, keyed model joins, top-k without global sort") {
    val df = SparkEntry.queries("q391_kneser_ney")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("No Partition Defined"),
      s"q391 has a data-scale unpartitioned window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q391 enumerates a pair space:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q391 top-20 uses a global sort:\n$plan")
  }

  test("fused text kernels: the corpus-scan path carries NO regex operator") {
    // the round-11/12 fusion wins (q355 84→2.2 s, q385 134→1.35 s at
    // ×100 docs) must not silently regress: the plans' only text work
    // is the codegen'd kernels, never RegExpReplace/RegExpExtract/
    // RegExpCount/StringSplit over the corpus. q358/q385 checkpoint
    // their grids, which truncates the observable plan — their kernel
    // adoption is pinned by WordStopStatsSpec's bit-equality instead;
    // the regex-absence check still covers their post-checkpoint work.
    val kernelVisible = Seq("q355_gopher_rules", "q371_cochran_q",
      "q386_mantel_haenszel")
    val checkpointed = Seq("q358_kendall_tau", "q385_weighted_kappa")
    for (name <- kernelVisible ++ checkpointed) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      val plan = PlanText.planStr(df)
      for (op <- Seq("regexp_replace", "regexp_count", "regexp_extract", "split(")) {
        assert(!plan.toLowerCase.contains(op),
          s"$name reintroduced $op on the scan path:\n$plan")
      }
      if (kernelVisible.contains(name))
        assert(plan.contains("gopher_text_stats"),
          s"$name lost its fused kernel:\n$plan")
    }
  }

  test("drift monitors (q417-q419): one pruned corpus scan, no cartesian") {
    // the shared grid is checkpointed, so (a) the grid's own plan must
    // be the one pruned corpus scan, and (b) the final plans must be
    // entirely grid-sized: ZERO parquet scans, no row-level cross join
    val gplan = PlanText.planStr(
      graft.operators.CorpusStatsQueries.driftGrid(spark, TestSpark.Sf))
    assert("Scan parquet".r.findAllIn(gplan).length == 1,
      s"drift grid reads the corpus more than once:\n$gplan")
    assert(gplan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"drift grid scans more than (doc_id, n_chars):\n$gplan")
    for (name <- Seq("q417_ks_two_sample", "q418_wasserstein_drift",
        "q419_psi_deciles")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert(!"Scan parquet".r.findFirstIn(plan).isDefined,
        s"$name re-reads the corpus past the checkpointed grid:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name has a row-level cross join:\n$plan")
    }
  }

  // ----- round-13 optimization shapes (VERDICT r13 #3) ---------------------
  // The r13 wins were evidenced by committed plan dumps but never
  // regression-guarded; one AQE default change or a careless edit would
  // silently restore the 20 GB anti-join sort-spill / the 5-task verify
  // starvation / the 250-node training replan. Pin them here.

  test("q296/q321 anti-join broadcasts the edge set (never the SMJ sort-spill)") {
    // r13: SortMergeJoin LeftAnti sorted the Σdeg²/2-row wedge aggregate
    // (20.6 GB spill at sf0.1) to subtract a ~600k-row edge set. The
    // measured-count pick (AdaptiveJoin.broadcastIfSmall) must keep this
    // a BroadcastHashJoin LeftAnti whenever the edge set is under the cap
    // — which it always is at test scale.
    for (name <- Seq("q296_adamic_adar", "q321_adamic_adar_capped")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val plan = PlanText.planStr(df)
      assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
        s"$name anti-join not broadcast (sort-spill shape restored):\n$plan")
      assert("SortMergeJoin.*LeftAnti".r.findFirstIn(plan).isEmpty,
        s"$name sort-merge LeftAnti returned:\n$plan")
      // r14: the wedge aggregate's exchange must sit BELOW the
      // aggregation (explicit repartition on the group key, width from
      // the measured wedge count) — no map-side HashAggregate under the
      // exchange. At sf0.1 the map-side partial pass reduced rows 3.6 %
      // while sort-spilling 16 GB, and the 32-wide final spilled 15 GB
      // more; the repartitioned shape runs the aggregate spill-free.
      import org.apache.spark.sql.execution.aggregate.HashAggregateExec
      import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
      val nodes = PlanText.finalNodes(df)
      val pin = nodes.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
          e.outputPartitioning.toString.contains("x2") => e
      }
      assert(pin.nonEmpty,
        s"$name: wedge-aggregate repartition pin gone:\n$plan")
      val aggBelowPin = pin.head.collect {
        case a: HashAggregateExec if a.groupingExpressions.exists(
          _.toString.contains("x2")) => a
      }.filterNot(_ eq pin.head)
      assert(aggBelowPin.isEmpty,
        s"$name: map-side wedge aggregate reappeared below the exchange:\n$plan")
    }
  }

  test("q272 closure and q160 closing probe broadcast the edge set") {
    // r13: both probes join a Σdeg²-bounded wedge stream against the |E|
    // edge list; broadcasting the measured-small edge set keeps the wedge
    // stream un-shuffled (q160's 354 MB wedge exchange was eliminated)
    val cc = SparkEntry.queries("q272_local_clustering")(spark, TestSpark.Sf)
    cc.collect()
    val ccPlan = PlanText.planStr(cc)
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(ccPlan).isDefined,
      s"q272 closure not a broadcast left-semi:\n$ccPlan")
    val tri = SparkEntry.queries("q160_triangle_count")(spark, TestSpark.Sf)
    tri.collect()
    val triPlan = PlanText.planStr(tri)
    assert(triPlan.contains("BroadcastHashJoin"),
      s"q160 closing probe not broadcast (wedge stream shuffles again):\n$triPlan")
  }

  test("prefix chain: the one exchange is pinned REPARTITION_BY_NUM on id, not AQE-coalesced") {
    // r13: AQE's byte-based coalescing collapsed the chain's single
    // narrow-row exchange to 5 partitions under a CPU-dense verify
    // (132 task-s on 5 tasks). The explicit repartition(n, id) pin must
    // survive — checked on q97's executed plan AND on q410's shared
    // pair-table builder (whose query-side plan checkpoint-collapses).
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def pinnedUnder(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
      case s: ShuffleQueryStageExec => pinnedUnder(s.plan)
      case r: ReusedExchangeExec => pinnedUnder(r.child)
      case _ => false
    }
    val want = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val dfs = Seq(
      "q97_dedup_prefix_filter" ->
        SparkEntry.queries("q97_dedup_prefix_filter")(spark, TestSpark.Sf),
      "q410 pair table" ->
        operators.CorpusAuditQueries.q410PairTable(spark, TestSpark.Sf))
    for ((name, df) <- dfs) {
      df.collect()
      val nodes = PlanText.finalNodes(df)
      val pins = nodes.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }
      assert(pins.nonEmpty,
        s"$name: explicit repartition pin gone:\n${PlanText.planStr(df)}")
      assert(pins.exists(e => e.outputPartitioning.numPartitions == want &&
          e.outputPartitioning.toString.contains("id")),
        s"$name: pin is not hashpartitioning(id, $want):\n${PlanText.planStr(df)}")
      val readsOnPin = nodes.collect {
        case r: AQEShuffleReadExec if pinnedUnder(r.child) => r
      }
      assert(readsOnPin.isEmpty,
        s"$name: AQE re-read (coalesce/skew) sits on the pinned exchange:\n${PlanText.planStr(df)}")
    }
  }

  test("q208 ADC: Lloyd training materialized once — no training subtree in consumers") {
    // r13: every broadcast consumer (next pass, encode, LUT ×2 subspaces)
    // re-executed the whole training subtree (250-node plan, 27-60
    // task-seconds per stage on a 0.7 MB input). The per-pass
    // localCheckpoint must keep training OUT of the final plan.
    val df = SparkEntry.queries("q208_pq_adc")(spark, TestSpark.Sf)
    df.collect()
    val plan = PlanText.planStr(df)
    assert(!plan.contains("posexplode"),
      s"Lloyd training chain leaked into the search plan:\n$plan")
    val n = PlanText.finalNodes(df).size
    assert(n < 150,
      s"q208 plan ballooned to $n nodes — training re-execution is back")
  }
}
