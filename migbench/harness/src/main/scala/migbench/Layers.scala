package migbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cli.JdbcCatalogSource
import graft.config.GraftConfig
import graft.io.PgCopyText
import graft.transform.ValueTransforms

/** Per-layer numbers of the measured migrations, from their spans. Each is
  * the median over the migrations of the run. */
object Layers {
  private val DdlPhases = Set("TableStructure", "Sequence", "Index", "ForeignKey", "View", "Trigger")

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def migration(all: Vector[Span], runs: Seq[Migrated], maxParallel: Int,
                writeTasks: Double): Map[String, Double] = {
    val byId = all.map(s => s.id -> s).toMap
    def phaseOf(s: Span): Option[Span] = {
      var p = byId.get(s.parent)
      while (p.exists(_.name != "phase")) p = p.flatMap(x => byId.get(x.parent))
      p
    }
    def s(ns: Double): Double = ns / 1e9
    val per = runs.indices.map { i =>
      val spans = all.filter(_.run == i + 1)
      val phases = spans.filter(_.name == "phase").map(p => p.key -> p).toMap
      val inPhase = spans.groupBy(x => phaseOf(x).map(_.key).getOrElse(""))
      def named(phase: String, prefix: String) =
        inPhase.getOrElse(phase, Vector.empty).filter(_.name.startsWith(prefix))
      val catalog = spans.filter(_.name.startsWith("catalog."))
      val copies = spans.filter(_.name.startsWith("io.copy"))
      val data = phases("TableData")
      val writes = named("TableData", "sink.writeTable")
      // per-table busy interval in TableData: catalog read → end of write
      val starts = named("TableData", "catalog.tableData").map(x => x.key.toLowerCase -> x.start).toMap
      val busy = writes.map(w => (starts.getOrElse(w.key, w.start), w.end))
      val lastStart = if (busy.isEmpty) data.start else busy.map(_._1).max
      val drained =
        if (busy.size < maxParallel) busy.map(_._2).minOption.getOrElse(data.end)
        else busy.map(_._2).filter(_ >= lastStart).minOption.getOrElse(data.end)
      val ddlSelf = DdlPhases.toSeq.map { ph =>
        val inner = inPhase.getOrElse(ph, Vector.empty)
          .filter(x => x.name.startsWith("catalog.") || x.name.startsWith("sink."))
        phases(ph).dur - covered(inner.map(x => (x.start, x.end)))
      }.sum
      val cmpStarts = named("Compare", "catalog.tableData").map(x => x.key.toLowerCase -> x.start).toMap
      val rowCounts = named("Compare", "sink.rowCount")
      val calls = catalog.size.toDouble
      Map(
        "cli.data_concurrency" -> writes.map(_.dur).sum.toDouble / data.dur,
        "cli.data_straggler_s" -> s(data.end - drained),
        "catalog.calls" -> calls,
        "catalog.s" -> s(catalog.map(_.dur).sum),
        "catalog.repeat_share" -> (calls - catalog.map(x => (x.name, x.key)).distinct.size) / calls,
        "io.copy_rows" -> runs(i).rows.toDouble,
        "io.copy_bytes" -> copies.map(_.bytes).sum.toDouble,
        "io.copy_partitions" -> copies.size.toDouble,
        "io.copy_wait_s" -> s(copies.map(_.waitNs).sum),
        "io.copy_self_s" -> s(copies.map(c => c.dur - c.waitNs).sum),
        "ddlgen.self_s" -> s(ddlSelf),
        "ddlgen.statements" -> DdlPhases.toSeq.map(named(_, "sink.ddl").size).sum.toDouble,
        "verify.source_count_s" -> s(rowCounts.map(r => r.start - cmpStarts.getOrElse(r.key, r.start)).sum),
        "verify.target_count_s" -> s(rowCounts.map(_.dur).sum),
        "sink.ddl_s" -> s(spans.filter(_.name == "sink.ddl").map(_.dur).sum),
        "sink.truncate_s" -> s(spans.filter(_.name == "sink.truncate").map(_.dur).sum),
        "sink.rowcount_s" -> s(spans.filter(_.name == "sink.rowCount").map(_.dur).sum),
        "catalog.empty_page_share" ->
          (if (writeTasks == 0) 0.0 else (writeTasks - copies.size) / writeTasks)) ++
        runs(i).phases.map { case (k, v) => s"cli.${k}_s" -> v }
    }
    per.head.keys.map(k => k -> Main.median(per.map(_(k)))).toMap
  }
}

/** The traced run's extra passes over the source, outside the timed loop:
  * a read-only noop pass, the same pass through the program's value
  * transforms, the NUL count, and single-thread COPY-text encoding. */
final class Passes(spark: SparkSession, cfg: GraftConfig, sourceRows: Long) {
  private val source = new JdbcCatalogSource(spark, cfg, Some(Main.DerbyUrl))
  private def transformed(t: String): DataFrame =
    ValueTransforms.scrubNulAll(ValueTransforms.lowercaseColumns(source.tableData(t)))
  private def noop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    Main.secs(t0)
  }

  def all(tables: Seq[String]): Map[String, Double] = {
    val readS = tables.map(t => noop(source.tableData(t))).sum
    val transformS = tables.map(t => noop(transformed(t))).sum
    val nuls = tables.map { t =>
      val st = ValueTransforms.nulStats(ValueTransforms.lowercaseColumns(source.tableData(t)))
      if (st.columns.isEmpty) 0L
      else st.collect().head.toSeq.map(v => Option(v).fold(0L)(_.toString.toLong)).sum
    }.sum
    var encodeNs = 0L
    var encoded = 0L
    tables.foreach { t =>
      val it = transformed(t).toLocalIterator()
      val chunk = new Array[org.apache.spark.sql.Row](10000)
      while (it.hasNext) {
        var k = 0
        while (k < chunk.length && it.hasNext) { chunk(k) = it.next(); k += 1 }
        val t0 = System.nanoTime()
        var j = 0
        while (j < k) { PgCopyText.encodeRow(chunk(j)); j += 1 }
        encodeNs += System.nanoTime() - t0
        encoded += k
      }
    }
    Map(
      "io.read_rows_per_s" -> sourceRows / readS,
      "transform.s" -> (transformS - readS),
      "transform.nul_values" -> nuls.toDouble,
      "io.encode_rows_per_s" -> encoded / (encodeNs / 1e9))
  }
}
