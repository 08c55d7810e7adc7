package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal kernels and streaming: decode/feature kernels, audio
  * windows, keyframes, streaming windows and dedup, watermark profiles,
  * late-data reconciliation.
  *
  * Section "Multimodal & streaming" of
  * docs/OPERATORS.md.
  */
object MultimodalQueries {

  def queries: Seq[Entry] = Seq(

    // ----- multimodal: binary payload + typed metadata -------------------
    ("q27_multimodal_meta", (s: SparkSession, dir: String) => {
      import s.implicits._
      // hex only the 8-char payload head — hexing the full payload would
      // double-materialize every document for 16 output characters
      val hhx = "lower(hex(encode(substring(text, 1, 8), 'UTF-8')))"
      val d = (p: Int) => expr(s"instr('0123456789abcdef', substr($hhx, $p, 1)) - 1")
      Tables.spread(Tables.t(s, dir, "documents")).select(
          $"doc_id",
          expr("octet_length(encode(text, 'UTF-8'))").as("n_bytes"),
          md5($"text").as("payload_md5"),
          expr(s"substr($hhx, 1, 16)").as("head_hex"),
          ceil(expr("octet_length(encode(text, 'UTF-8'))") / lit(64.0)).cast("long").as("chunk_count"),
          (lit(32) + (d(1) * 16 + d(2)) % 64).as("fake_w"),
          (lit(32) + (d(3) * 16 + d(4)) % 64).as("fake_h"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, text, lower(hex(encode(substr(text, 1, 8)))) AS hx FROM documents)
      SELECT doc_id,
        octet_length(encode(text)) AS n_bytes,
        md5(text) AS payload_md5,
        substr(hx, 1, 16) AS head_hex,
        CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS chunk_count,
        32 + ((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 64 AS fake_w,
        32 + ((instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 64 AS fake_h
      FROM d ORDER BY doc_id""")),

    // ----- structured streaming under the batch oracle --------------------
    ("q67_stream_window", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the streaming windowed-count pipeline executed as a real
      // streaming query (file source → watermark → window agg → memory
      // sink), then handed to the gate: Structured Streaming's result is
      // oracle-checked against the same SQL as the batch form
      // the file source wants a directory: expose events.parquet through
      // a temp dir (symlink — no copy)
      val tmp = graft.TempScratch.symlinkDir("q67", "events.parquet",
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val stream = graft.streaming.EventStream
        .streamFromParquetDir(s, tmp.toString)
      val q = graft.streaming.EventStream.windowedCounts(stream)
        .writeStream.format("memory").queryName("q67_mem")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("q67_mem")
        .select($"hour_start", $"event_type", $"n_events")
        .orderBy("hour_start", "event_type")
    }, Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        count(*) AS n_events
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""")),

    // ----- multimodal: per-partition feature extraction ------------------
    ("q69_multimodal_features", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the mapPartitions decode/feature pipeline end-to-end: binary
      // payloads → per-partition stub decode → frame-sampled features.
      // The gate projection keeps the SQL-expressible kernel outputs
      // (frame geometry + sampled header bytes → width/height); the
      // rolling checksum has no SQL form and is pinned in MultimodalSpec.
      // ASCII-only gate filter: the kernel reads UTF-8 BYTES while SQL
      // substr/ascii read characters — identical only where octet_length
      // equals char length, so the comparison is restricted to exactly
      // that set (the kernel itself handles any bytes).
      val media = graft.ext.Multimodal.toMediaDocs(
        Tables.spread(Tables.t(s, dir, "documents"))
          .filter($"doc_id" < 200 && octet_length($"text") === length($"text")),
        "doc_id", "text")
      graft.ext.Multimodal.extractFeatures(media, frameEvery = 2)
        .toDF()
        .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
          $"width".cast("long").as("width"), $"height".cast("long").as("height"))
        .orderBy("doc_id", "frame_idx")
    }, Some("""
      WITH d AS (SELECT doc_id, text,
          greatest(1, CAST(ceil(length(text)/64.0) AS BIGINT)) AS chunks
        FROM documents
        WHERE doc_id < 200 AND octet_length(encode(text)) = length(text)),
      idx AS (SELECT doc_id, text, unnest(range(0, chunks, 2)) AS frame_idx FROM d)
      SELECT doc_id, frame_idx,
        32 + (CASE WHEN frame_idx*64 < length(text)
              THEN ascii(substr(text, CAST(frame_idx*64+1 AS INT), 1)) ELSE 0 END) % 64 AS width,
        32 + (CASE WHEN frame_idx*64+1 < length(text)
              THEN ascii(substr(text, CAST(frame_idx*64+2 AS INT), 1)) ELSE 0 END) % 64 AS height
      FROM idx ORDER BY doc_id, frame_idx""")),

    // ----- multimodal: audio windows → batched scoring --------------------
    ("q98_multimodal_audio_batch", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the 1D-signal pipeline end-to-end: payloads → hop/window frames
      // (audioWindows) → per-partition fixed-size batches through the
      // stubbed model (scoreFramesBatched). The gate projection keeps
      // one row per scored frame (proves the batched scorer emitted the
      // full frame stream) plus the per-doc window geometry and energy —
      // all pure byte math the oracle reproduces in SQL. The model score
      // and the batch contract (batch_id/batch_size) are partition-
      // dependent and pinned in MultimodalSpec instead.
      // ASCII-only gate filter, as in q69: byte-kernel vs char-SQL parity
      val media = graft.ext.Multimodal.toMediaDocs(
        Tables.spread(Tables.t(s, dir, "documents"))
          .filter($"doc_id" < 200 && octet_length($"text") === length($"text")),
        "doc_id", "text")
      val frames = graft.ext.Multimodal.extractFeatures(media, frameEvery = 2)
      val wins = graft.ext.Multimodal.audioWindows(media, winSize = 256, hop = 128)
      val scored = graft.ext.Multimodal.scoreFramesBatched(frames, batchSize = 32)
      scored.toDF()
        .join(wins.toDF().groupBy($"doc_id")
          .agg(count(lit(1)).as("n_windows"), sum($"energy").as("total_energy")),
          Seq("doc_id"))
        .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
          $"n_windows", $"total_energy")
        .orderBy("doc_id", "frame_idx")
    }, Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n,
          greatest(1, CAST(ceil(length(text)/64.0) AS BIGINT)) AS chunks
        FROM documents
        WHERE doc_id < 200 AND octet_length(encode(text)) = length(text)),
      w AS (SELECT doc_id, text, n,
          unnest(range(0, CAST(ceil(greatest(n,1)/128.0) AS BIGINT))) AS win_idx FROM d),
      nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM w GROUP BY doc_id),
      b AS (SELECT doc_id, unnest(range(win_idx*128, least(n, win_idx*128+256))) AS pos, text
            FROM w),
      e AS (SELECT doc_id, CAST(sum(
              (ascii(substr(text, CAST(pos+1 AS INT), 1)) - 128)
            * (ascii(substr(text, CAST(pos+1 AS INT), 1)) - 128)) AS BIGINT) AS total_energy
            FROM b GROUP BY doc_id),
      f AS (SELECT doc_id, unnest(range(0, chunks, 2)) AS frame_idx FROM d)
      SELECT f.doc_id, f.frame_idx, nw.n_windows,
        COALESCE(e.total_energy, 0) AS total_energy
      FROM f JOIN nw USING (doc_id) LEFT JOIN e USING (doc_id)
      ORDER BY doc_id, frame_idx""")),

    // ----- streaming stream-static enrichment join under the gate --------
    // The streaming star-join: events stream in, the customer dimension
    // is static and broadcast into every micro-batch. Aggregation in
    // complete mode makes the result arrival-order-independent, so the
    // batch join is the exact oracle (q67's pattern, extended from
    // plain aggregation to join + aggregation).
    ("q145_stream_static_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tmp = graft.TempScratch.symlinkDir("q145", "events.parquet",
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val stream = graft.streaming.EventStream.streamFromParquetDir(s, tmp.toString)
      val dim = Tables.t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
      val q = graft.streaming.EventStream.enrichedTypeCounts(stream, dim)
        .writeStream.format("memory").queryName("q145_mem")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("q145_mem")
        .select($"c_mktsegment", $"event_type", $"n_events")
        .orderBy("c_mktsegment", "event_type")
    }, Some("""
      SELECT c_mktsegment, event_type, count(*) AS n_events
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type""")),

    // ----- watermark-lateness profile (streaming-design table) -----------
    // Choosing a Structured Streaming watermark horizon is a data
    // question — how late does this stream actually run? — usually
    // answered by guessing. This profile answers it from the data:
    // per-key (user) arrival order is the event_id sequence, lateness of
    // an event is the running max event-time over that order minus its
    // own event-time, and the output is the horizon ladder {0 s, 1 s,
    // 10 s, 60 s, 600 s, 3600 s} with how many events a watermark at
    // that horizon keeps. Per-KEY lateness underestimates the global
    // single-stream form (Spark's watermark is global: the running max
    // spans all keys), so the table is the optimistic bound — the
    // per-key windows parallelize over users, nothing global sorts, and
    // at 100 TB that is the only computable form; the gap closes as the
    // key count grows because the global max is almost surely advanced
    // by some key between any key's consecutive events.
    ("q201_watermark_lateness", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      // the generator has emitted ts as TIMESTAMP, TIMESTAMP_NTZ, and
      // TIMESTAMP(NANOS) over time (TESTDATA gotcha) — normalize to
      // epoch micros; lateness is a DIFFERENCE, so any constant session
      // offset a cast introduces cancels
      val tusCol = raw.schema("ts").dataType.typeName match {
        case "timestamp_ntz" => unix_micros($"ts".cast("timestamp"))
        case _ => unix_micros($"ts")
      }
      val ev = raw.select($"event_id", $"user_id", tusCol.as("tus"))
      val late = ev.withColumn("late_s", expr(
        "(max(tus) OVER (PARTITION BY user_id ORDER BY event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tus) div 1000000"))
      val tot = late.agg(count(lit(1)).as("n"))
      val horizons = Seq(0L, 1L, 10L, 60L, 600L, 3600L)
      late.select(explode(array(horizons.map(hz =>
          struct(lit(hz).as("horizon_s"),
            when($"late_s" <= hz, 1L).otherwise(0L).as("ok"))): _*)).as("p"))
        .select($"p.horizon_s".as("horizon_s"), $"p.ok".as("ok"))
        .groupBy($"horizon_s")
        .agg(sum($"ok").as("n_on_time"))
        .crossJoin(broadcast(tot))
        .select($"horizon_s", $"n_on_time", ($"n" - $"n_on_time").as("n_dropped"),
          expr("(1000000 * n_on_time) div n").as("on_time_micro"))
        .orderBy($"horizon_s")
    }, Some("""
      WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
      late AS (SELECT (max(tus) OVER (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tus) // 1000000 AS late_s
        FROM ev),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM late),
      h AS (SELECT unnest([0, 1, 10, 60, 600, 3600]) AS horizon_s),
      agg AS (SELECT h.horizon_s,
          CAST(sum(CASE WHEN late.late_s <= h.horizon_s THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time
        FROM late CROSS JOIN h GROUP BY h.horizon_s)
      SELECT CAST(horizon_s AS BIGINT) AS horizon_s, n_on_time,
        tot.n - n_on_time AS n_dropped,
        (1000000 * n_on_time) // tot.n AS on_time_micro
      FROM agg CROSS JOIN tot ORDER BY horizon_s""")),

    // Streaming reconciliation and optimizer statistics —
    // the late-data correction merge a watermarked pipeline owes its
    // consumers, and the equi-depth histogram ANALYZE feeds the planner.

    // ----- late-data reconciliation (emitted + corrections = truth) -------
    // A watermarked streaming aggregate EMITS each window at close +
    // horizon and silently drops later arrivals; the production answer
    // is a reconciliation table: the dropped rows aggregated per window
    // as CORRECTIONS, merged with the emitted result so batch consumers
    // converge to truth (the lambda-architecture contract). Arrival
    // times are synthesized deterministically — 10% of events carry an
    // md5-derived delay up to 30 min — and an event makes the emitted
    // window iff arrival ≤ window_end + 600 s. Everything is a MAP
    // expression over the event row (no global arrival sort — the
    // membership test needs only the event's own delay and its window
    // bound) followed by two aggregates and a full-outer merge on the
    // window key; `match_direct` pins merged == direct recompute per
    // window. At 100 TB this is the periodic correction job next to the
    // streaming query, and its cost is one scan of the late tail.
    ("q216_late_data_reconciliation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val tusCol = raw.schema("ts").dataType.typeName match {
        case "timestamp_ntz" => unix_micros($"ts".cast("timestamp"))
        case _ => unix_micros($"ts")
      }
      val ev = raw.select($"event_id", $"value", tusCol.as("tus"))
        .withColumn("delay_s",
          when(conv(substring(md5(concat(lit("d|"), $"event_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 10 === 0,
            conv(substring(md5(concat(lit("dd|"), $"event_id".cast("string"))), 1, 8), 16, 10)
              .cast("long") % 1800).otherwise(0L))
        .withColumn("w", expr("tus div 3600000000"))
        .withColumn("v_micro", floor($"value" * 1000000 + lit(0.5)).cast("long"))
        .withColumn("in_emitted",
          ($"tus" + $"delay_s" * 1000000L) <= (($"w" + 1) * 3600000000L + 600000000L))
        .localCheckpoint() // emitted, corrections, and direct-audit branches
      val emitted = ev.filter($"in_emitted").groupBy($"w")
        .agg(count(lit(1)).as("n_emitted"), sum($"v_micro").as("v_emitted_micro"))
      val late = ev.filter(!$"in_emitted").groupBy($"w")
        .agg(count(lit(1)).as("n_late"), sum($"v_micro").as("v_late_micro"))
      val direct = ev.groupBy($"w")
        .agg(count(lit(1)).as("n_direct"), sum($"v_micro").as("v_direct_micro"))
      emitted.join(late, Seq("w"), "full_outer")
        .na.fill(0L, Seq("n_emitted", "v_emitted_micro", "n_late", "v_late_micro"))
        .join(direct, Seq("w"))
        .select($"w".as("wstart_hr"), $"n_emitted", $"n_late", $"v_emitted_micro",
          $"v_late_micro",
          ($"n_emitted" + $"n_late").as("n_final"),
          ($"v_emitted_micro" + $"v_late_micro").as("v_final_micro"),
          when($"n_emitted" + $"n_late" === $"n_direct" &&
            $"v_emitted_micro" + $"v_late_micro" === $"v_direct_micro", 1L)
            .otherwise(0L).as("match_direct"))
        .orderBy("wstart_hr")
    }, Some("""
      WITH ev AS (SELECT event_id, value, epoch_us(ts) AS tus FROM events),
      x AS (SELECT event_id, value, tus,
          CASE WHEN ('0x' || substr(md5('d|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
            THEN ('0x' || substr(md5('dd|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 1800
            ELSE 0 END AS delay_s,
          tus // 3600000000 AS w,
          CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
        FROM ev),
      y AS (SELECT *,
          (tus + delay_s * 1000000) <= ((w + 1) * 3600000000 + 600000000) AS in_emitted
        FROM x),
      emitted AS (SELECT w, CAST(count(*) AS BIGINT) AS n_emitted,
          CAST(sum(v_micro) AS BIGINT) AS v_emitted_micro
        FROM y WHERE in_emitted GROUP BY w),
      late AS (SELECT w, CAST(count(*) AS BIGINT) AS n_late,
          CAST(sum(v_micro) AS BIGINT) AS v_late_micro
        FROM y WHERE NOT in_emitted GROUP BY w),
      direct AS (SELECT w, CAST(count(*) AS BIGINT) AS n_direct,
          CAST(sum(v_micro) AS BIGINT) AS v_direct_micro
        FROM y GROUP BY w),
      m AS (SELECT coalesce(e.w, l.w) AS w,
          coalesce(e.n_emitted, 0) AS n_emitted, coalesce(l.n_late, 0) AS n_late,
          coalesce(e.v_emitted_micro, 0) AS v_emitted_micro,
          coalesce(l.v_late_micro, 0) AS v_late_micro
        FROM emitted e FULL OUTER JOIN late l ON l.w = e.w)
      SELECT m.w AS wstart_hr, m.n_emitted, m.n_late, m.v_emitted_micro,
        m.v_late_micro,
        m.n_emitted + m.n_late AS n_final,
        m.v_emitted_micro + m.v_late_micro AS v_final_micro,
        CAST(CASE WHEN m.n_emitted + m.n_late = d.n_direct
          AND m.v_emitted_micro + m.v_late_micro = d.v_direct_micro
          THEN 1 ELSE 0 END AS BIGINT) AS match_direct
      FROM m JOIN direct d ON d.w = m.w ORDER BY wstart_hr""")),

    // The multimodal selection stage (keyframe/shot
    // detection over the decoded frame stream) and the l-diversity
    // companion to the q206 k-anonymity audit.

    // ----- keyframe selection (shot detection over decoded frames) --------
    // The video-curation stage after decode: most frames are
    // near-duplicates of their predecessor, so training pipelines keep
    // only SHOT BOUNDARIES — frames whose signal jumps against the
    // previous frame — plus the first frame per clip. Frames come from
    // the q69 mapPartitions decode (stride 1 here: selection wants the
    // full stream); the boundary rule is a per-clip lag window on the
    // frame signal (|Δwidth| ≥ 16 over the stub's header-byte geometry —
    // a codec build substitutes a perceptual-hash delta with the
    // IDENTICAL dataflow). Per-clip output: frame and keyframe counts,
    // an index-sum membership pin, and the first/last boundary. Frames
    // shuffle once on doc_id for the window (bounded per clip); the
    // selection itself never leaves the clip's partition. Same
    // ASCII-only gate filter as q69 — the kernel reads bytes, SQL reads
    // chars, so the oracle comparison restricts to docs where those
    // coincide (the kernel handles arbitrary payloads).
    ("q218_keyframe_selection", (s: SparkSession, dir: String) => {
      import s.implicits._
      val media = graft.ext.Multimodal.toMediaDocs(
        Tables.spread(Tables.t(s, dir, "documents"))
          .filter($"doc_id" < 200 && octet_length($"text") === length($"text")),
        "doc_id", "text")
      val frames = graft.ext.Multimodal.extractFeatures(media, frameEvery = 1)
        .toDF()
        .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
          $"width".cast("long").as("width"))
      val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
      val kf = frames
        .withColumn("prev_w", lag($"width", 1).over(w))
        .withColumn("is_kf",
          when($"prev_w".isNull || abs($"width" - $"prev_w") >= 16, 1L).otherwise(0L))
      kf.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum($"is_kf").as("n_keyframes"),
          sum(when($"is_kf" === 1, $"frame_idx").otherwise(0L)).as("kf_idxsum"),
          min(when($"is_kf" === 1, $"frame_idx")).as("first_kf"),
          max(when($"is_kf" === 1, $"frame_idx")).as("last_kf"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, text,
          greatest(1, CAST(ceil(length(text)/64.0) AS BIGINT)) AS chunks
        FROM documents
        WHERE doc_id < 200 AND octet_length(encode(text)) = length(text)),
      idx AS (SELECT doc_id, text, unnest(range(0, chunks)) AS frame_idx FROM d),
      f AS (SELECT doc_id, frame_idx,
          32 + (CASE WHEN frame_idx*64 < length(text)
                THEN ascii(substr(text, CAST(frame_idx*64+1 AS INT), 1)) ELSE 0 END) % 64 AS width
        FROM idx),
      kf AS (SELECT doc_id, frame_idx, width,
          lag(width, 1) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_w
        FROM f),
      k2 AS (SELECT doc_id, frame_idx,
          CASE WHEN prev_w IS NULL OR abs(width - prev_w) >= 16 THEN 1 ELSE 0 END AS is_kf
        FROM kf)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        CAST(sum(is_kf) AS BIGINT) AS n_keyframes,
        CAST(sum(CASE WHEN is_kf = 1 THEN frame_idx ELSE 0 END) AS BIGINT) AS kf_idxsum,
        min(CASE WHEN is_kf = 1 THEN frame_idx END) AS first_kf,
        max(CASE WHEN is_kf = 1 THEN frame_idx END) AS last_kf
      FROM k2 GROUP BY doc_id ORDER BY doc_id"""))
  )
}
