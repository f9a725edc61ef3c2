package graft.queries

import graft.Tables
import graft.config.ExtractQueryConfig
import graft.extract.{Extractor, LongTable, TzMode}
import graft.operators.ExtractOps
import graft.time.DeltaTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own operator surface (SURVEY §2) over the `events`
  * table — the driver data's time-series analog of the InfluxDB long
  * format (`ts, event_type, value` ≈ `_time, id/_field, _value`,
  * FIXTURES.md §B). Every entry has a DuckDB oracle.
  */
object ReferenceQueries extends QueryGroup {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val ET = LongTable(timeCol = "ts", valueCol = "value")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SURVEY §7.2 flagship: the whole §3.1 hot path in one plan —
    // P1 range, P2 regex filter, R1 pivot, A2 1s-resample-last, P5
    // dropna(all), O1 sort, fused into a single shuffle.
    "daily_extract" -> ((s, dir) => {
      Extractor.queryDatabase(
        Tables.events(s, dir),
        ExtractQueryConfig(
          deltaTimeEnd = DeltaTime(hours = 24),
          filter = "r[\"event_type\"] =~ /.*/",
          columnKey = "event_type",
          sortBy = Seq("ts")),
        queryTime = "2024-01-02T00:00:00Z",
        table = ET,
        pivotKeys = Some(EventTypes))
    }),

    // §2.2 aggregate_function = "mean" + aggregate_window = "1h" — the
    // config-driven agg path (reference keys, database_extractor.py:145-146).
    // Window means are discretized to milli-units (floor(x*1000 + 0.5):
    // the IEEE-exact pattern of COVERAGE.md's float-determinism rule) so
    // the cross-engine hash is stable.
    "daily_extract_mean" -> ((s, dir) => {
      val wide = Extractor.queryDatabase(
        Tables.events(s, dir),
        ExtractQueryConfig(
          deltaTimeEnd = DeltaTime(hours = 24),
          filter = "r[\"event_type\"] =~ /.*/",
          columnKey = "event_type",
          aggregateFunction = "mean",
          aggregateWindow = "1h",
          sortBy = Seq("ts")),
        queryTime = "2024-01-02T00:00:00Z",
        table = ET,
        pivotKeys = Some(EventTypes))
      wide.select(col("ts") +: EventTypes.map(t => floor(col(t) * 1000 + 0.5).cast("long").as(t)): _*)
        .orderBy("ts")
    }),

    // F5 — queryDataForDay with the date-derived tz offset (the
    // reference's production path, database_extractor.py:380-381): a
    // January date derives -8 under the faithful 2024 rule, so the query
    // window is [05T08:00Z, 06T08:00Z) and timestamps read as local
    // wall-clock — provably NOT the cfg default of 0.
    "daily_extract_dst" -> ((s, dir) => {
      Extractor.queryDataForDay(
        Tables.events(s, dir),
        java.time.LocalDate.of(2024, 1, 5),
        ExtractQueryConfig(
          filter = "r[\"event_type\"] =~ /.*/",
          columnKey = "event_type",
          sortBy = Seq("ts")),
        table = ET,
        tzMode = TzMode.Reference2024,
        pivotKeys = Some(EventTypes)).get
    }),

    // P1 — half-open time-range prune, pushed to the parquet scan.
    "time_range_filter" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.timeRange("ts", "2024-01-05T00:00:00Z", "2024-01-07T00:00:00Z"))
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id")
    }),

    // P2 — regex row filter (`r["id"] =~ /re/` form).
    "regex_filter" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.rowFilter("r[\"event_type\"] =~ /^(click|error)$/"))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // P3 — equality row filter (`r["_measurement"] == "v"` form).
    "equality_filter" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.rowFilter("r[\"event_type\"] == \"purchase\""))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // P4 — drop-if-exists negative projection; "no_such_col" must be
    // silently skipped (drop_columns semantics, database_extractor.py:326-332).
    "drop_columns" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.dropCols(Seq("props", "event_id", "no_such_col")))
        .orderBy("ts", "user_id")
    }),

    // R1 — raw pivot at un-resampled timestamps (the reference's pivot
    // before its resample step), restricted to one day to keep the raw
    // grid small.
    "pivot_raw" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.timeRange("ts", "2024-01-03T00:00:00Z", "2024-01-04T00:00:00Z"))
        .transform(ExtractOps.pivotWide("ts", "event_type", "value", Some(EventTypes)))
        .orderBy("ts")
    }),

    // A2 — long-format 1 s resample-last (pre-pivot variant).
    "resample_last_long" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.timeRange("ts", "2024-01-02T00:00:00Z", "2024-01-05T00:00:00Z"))
        .transform(ExtractOps.resampleLastLong("ts", "1 second", "event_type", "value"))
        .orderBy("ts", "event_type")
    }),

    // Gap-filled forward-fill variant: dense per-series 1 h grid, empty
    // bins carry the previous value (flagged is_gap) — "no new point
    // means unchanged", the sensor-state reading of the 1 s grid.
    "resample_ffill" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.resampleFfill("ts", "1 hour", "event_type", "value"))
        .orderBy("ts", "event_type")
    }),

    // Linear interpolation variant (pandas interpolate on the grid):
    // interior gaps lerped between the surrounding observed bins.
    "resample_interp" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.resampleInterp("ts", "1 hour", "event_type", "value"))
        .orderBy("ts", "event_type")
    }),

    // A1 — tumbling-window aggregate with a coarser grid (the disabled
    // aggregateWindow path, database_extractor.py:299), 1 h window count+last.
    "window_agg_1h" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          max_by(col("value"), col("ts")).as("last_value"))
        .select(col("w.start").as("ts"), col("event_type"), col("n"), col("last_value"))
        .orderBy("ts", "event_type")
    }),

    // A1+ — HOPPING window (1 h windows sliding every 15 min): each
    // event lands in exactly 4 overlapping windows. Window starts are
    // emitted as epoch seconds so both engines hash identical integers
    // (DuckDB's to_timestamp is TIMESTAMPTZ — a tz trap avoided).
    "hopping_window_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("ts"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        // NTZ window starts reject a direct →BIGINT cast; hop through
        // TIMESTAMP (value-preserving under the UTC session tz)
        .select(col("w.start").cast("timestamp").cast("long").as("ws_sec"),
          col("event_type"), col("n"), col("sum_cents"))
        .orderBy("ws_sec", "event_type")
    }),

    // F4 — timeShift: emit local wall-clock timestamps (tz_offset = -8).
    "time_shift" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.timeShift("ts", -8))
        .select("event_id", "ts")
        .orderBy("event_id")
    }),

    // O1 — multi-column ascending sort.
    "sort_multi" -> ((s, dir) => {
      Tables.events(s, dir)
        .select("ts", "event_type", "event_id", "value")
        .orderBy("ts", "event_type", "event_id")
    }),

    // O2 — limit/peek with a deterministic order (`result.head(10)`).
    "limit_peek" -> ((s, dir) => {
      Tables.events(s, dir)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id")
        .limit(10)
    }),

    // S4 — the reference's PRODUCTION sink under the oracle (r15
    // verdict #5; previously spec-only): flagship extract →
    // writeDailyCsv (single file, daily name, header —
    // database_extractor.py:350) → schema'd CSV read-back, checked
    // against the SAME oracle as daily_extract. Doubles round-trip
    // bit-exactly (shortest-repr toString), timestamps via the default
    // ISO format under the pinned UTC session tz; a lossy sink would
    // hash-mismatch here.
    "daily_extract_csv_roundtrip" -> ((s, dir) => {
      val root = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_daily_csv").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val df = queries("daily_extract")(s, dir)
      ExtractOps.writeDailyCsv(df, root, "prototype-zero_realtime-data",
        java.time.LocalDate.parse("2024-01-02"))
      s.read.schema(df.schema).option("header", "true")
        .csv(s"$root/prototype-zero_realtime-data_2024-01-02.csv")
        .orderBy("ts")
    }),

    // §2.10 — the STREAMING daily extract itself under the driver's
    // oracle (r15 verdict #4; previously spec-only): three
    // deterministic micro-batches (event_id % 3) staged as files and
    // replayed through resampleLastStream (1 s windowed-last, 1 h
    // event-time watermark) + the append-mode daily file sink, one
    // AvailableNow lifecycle per batch so the watermark advances
    // deterministically between batches. Batch 1 spans the whole time
    // range, so batches 2 and 3 genuinely exercise BOTH late-data
    // paths: rows within the horizon of the prior batches' max are
    // accepted into open windows, rows beyond it are dropped. Two
    // out-of-band sentinel batches (excluded series, +horizon+2 s
    // apart) push the watermark past every real window so the final
    // table is exactly the closed-window set; the oracle recomputes
    // acceptance from the watermark recurrence (ms-floored max — the
    // engine tracks event time in milliseconds — minus the horizon,
    // compared against window END) and the windowed-last from the
    // accepted union. Same fixed-staging-path / single-process
    // assumptions as the gate replays.
    "streaming_extract_replay" -> ((s, dir) => {
      import graft.streaming.StreamingExtract
      val root = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_sextract_replay").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ev = Tables.events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
      val schema = ev.schema
      val stats = ev.agg(max("ts"), count(lit(1))).head()
      val mx = stats.getTimestamp(0)
      val nEv = stats.getLong(1)
      def stage(df: DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(s"$root/in")
      def run(): Unit = StreamingExtract.startFileSink(
        StreamingExtract.resampleLastStream(
          StreamingExtract.source(s, s"$root/in", schema),
          "ts", "event_type", "value", every = "1 second", watermark = "1 hour"),
        "ts", s"$root/out", s"$root/ckpt").awaitTermination(300000)
      // Streaming state partitioning is pinned at the first run by the
      // checkpoint and AQE never coalesces it, so `shuffle.partitions`
      // = core count hands every micro-batch one state-store commit
      // (snapshot read + delta write) PER CORE regardless of state
      // size — measured 8 micro-batch jobs x 32 one-row-ish tasks
      // dominating this replay (plans/r21). Derive the count from the
      // input volume instead (~50k events per state partition, capped
      // at the session parallelism — the same input-sized rule the
      // repo's repartition sites use), restoring the session value
      // for the batch read-back below.
      val sessionSp = s.conf.get("spark.sql.shuffle.partitions")
      val stateParts = math.max(1L, math.min(
        s.sparkContext.defaultParallelism.toLong, nEv / 50000L + 1L))
      s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      try {
        for (b <- 0 to 2) { stage(ev.filter(col("event_id") % 3 === b)); run() }
        import s.implicits._
        def sentinel(id: Long, t: java.sql.Timestamp): DataFrame =
          Seq((id, t, -1L, "__sentinel", 0.0, null: String))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        // ONE sentinel suffices (r21): its batch advances the watermark
        // past every real window END (s1 − 1h = max + 2s), and the
        // engine's eager no-data batch within the same lifecycle emits
        // the closed windows — the former second sentinel only closed
        // the first sentinel's own (filtered-out) window, at the cost
        // of a full extra streaming lifecycle. Oracle unchanged: it
        // models acceptance of the three real batches only.
        val s1 = new java.sql.Timestamp(mx.getTime + 3600L * 1000 + 2000)
        stage(sentinel(-1L, s1)); run()
      } finally s.conf.set("spark.sql.shuffle.partitions", sessionSp)
      graft.sources.FileSources.parquet(s, s"$root/out")
        .select("ts", "event_type", "value", "n_points")
        // the sentinel's OWN window never closes (the final watermark is
        // max + 2s, well short of the sentinel window's end at
        // ~max + 1h + 3s), so it is never emitted — the filter is
        // belt-and-braces against a future event-time change, not the
        // thing suppressing it today; only real series are the contract
        // (the oracle never materializes the sentinels)
        .filter(col("event_type") =!= "__sentinel")
        .orderBy("ts", "event_type")
    }),

    // §3.2 backfill, scale path: one plan over the whole range instead of
    // the reference's serial per-day loop; daily rollup per series.
    "backfill_daily" -> ((s, dir) => {
      Tables.events(s, dir)
        .transform(ExtractOps.timeRange("ts", "2024-01-02T00:00:00Z", "2024-01-09T00:00:00Z"))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy("day", "event_type")
    })
  )

  private def argMaxCols(types: Seq[String]): String = types.map { t =>
    s"""arg_max(value, ts) FILTER (WHERE event_type = '$t') AS "$t""""
  }.mkString(",\n  ")

  private def meanMilliCols(types: Seq[String]): String = types.map { t =>
    s"""CAST(floor(avg(value) FILTER (WHERE event_type = '$t') * 1000 + 0.5) AS BIGINT) AS "$t""""
  }.mkString(",\n  ")

  val oracleSql: Map[String, String] = Map(
    "daily_extract" ->
      s"""SELECT date_trunc('second', ts) AS ts,
  ${argMaxCols(EventTypes)}
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1 ORDER BY 1""",

    // identical contract to daily_extract — the CSV sink round-trip
    // must be lossless, so it answers the same oracle
    "daily_extract_csv_roundtrip" ->
      s"""SELECT date_trunc('second', ts) AS ts,
  ${argMaxCols(EventTypes)}
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1 ORDER BY 1""",

    "daily_extract_mean" ->
      s"""SELECT date_trunc('hour', ts) AS ts,
  ${meanMilliCols(EventTypes)}
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1 ORDER BY 1""",

    "daily_extract_dst" ->
      s"""SELECT date_trunc('second', ts - INTERVAL 8 HOUR) AS ts,
  ${argMaxCols(EventTypes)}
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 08:00:00' AND ts < TIMESTAMP '2024-01-06 08:00:00'
GROUP BY 1 ORDER BY 1""",

    "time_range_filter" ->
      """SELECT event_id, ts, event_type, value FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-07 00:00:00'
ORDER BY event_id""",

    "regex_filter" ->
      """SELECT event_id, event_type, value FROM events
WHERE regexp_matches(event_type, '^(click|error)$') ORDER BY event_id""",

    "equality_filter" ->
      """SELECT event_id, user_id, value FROM events
WHERE event_type = 'purchase' ORDER BY event_id""",

    "drop_columns" ->
      """SELECT ts, user_id, event_type, value FROM events ORDER BY ts, user_id""",

    "pivot_raw" ->
      s"""SELECT ts,
  ${argMaxCols(EventTypes)}
FROM events
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-04 00:00:00'
GROUP BY 1 ORDER BY 1""",

    "resample_last_long" ->
      """SELECT date_trunc('second', ts) AS ts, event_type, arg_max(value, ts) AS value
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-05 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",

    // Watermark recurrence stated analytically: the engine's watermark
    // entering batch N is (ms-floored max event time over ALL rows of
    // batches < N, dropped ones included) - horizon; a row survives iff
    // its 1 s window END exceeds that. Batch 1 enters at the epoch
    // watermark (all accepted); the sentinels close every real window
    // and appear in no window themselves. The windowed-last and
    // n_points then aggregate the accepted union — late-but-in-horizon
    // rows of later batches land in their original windows.
    "streaming_extract_replay" ->
      """WITH wm1 AS (
  SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR AS wm
  FROM events WHERE event_id % 3 = 0),
wm2 AS (
  SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR AS wm
  FROM events WHERE event_id % 3 <= 1),
acc AS (
  SELECT ts, event_type, value FROM events WHERE event_id % 3 = 0
  UNION ALL
  SELECT ts, event_type, value FROM events, wm1
  WHERE event_id % 3 = 1 AND date_trunc('second', ts) + INTERVAL 1 SECOND > wm
  UNION ALL
  SELECT ts, event_type, value FROM events, wm2
  WHERE event_id % 3 = 2 AND date_trunc('second', ts) + INTERVAL 1 SECOND > wm)
SELECT date_trunc('second', ts) AS ts, event_type,
  arg_max(value, ts) AS value, count(*) AS n_points
FROM acc
GROUP BY 1, 2 ORDER BY 1, 2""",

    "resample_ffill" ->
      """WITH binned AS (
  SELECT date_trunc('hour', ts) AS ts, event_type, arg_max(value, ts) AS value
  FROM events GROUP BY 1, 2),
spans AS (SELECT event_type, min(ts) AS t0, max(ts) AS t1 FROM binned GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM spans),
j AS (
  SELECT g.ts, g.event_type, b.value
  FROM grid g LEFT JOIN binned b ON g.ts = b.ts AND g.event_type = b.event_type)
SELECT ts, event_type,
  last_value(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
  (value IS NULL) AS is_gap
FROM j ORDER BY ts, event_type""",

    "resample_interp" ->
      """WITH binned AS (
  SELECT date_trunc('hour', ts) AS ts, event_type, arg_max(value, ts) AS value
  FROM events GROUP BY 1, 2),
spans AS (SELECT event_type, min(ts) AS t0, max(ts) AS t1 FROM binned GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM spans),
j AS (
  SELECT g.ts, g.event_type, b.value
  FROM grid g LEFT JOIN binned b ON g.ts = b.ts AND g.event_type = b.event_type),
rns AS (
  SELECT ts, event_type, value,
    row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn
  FROM j),
wdw AS (
  SELECT ts, event_type, value, rn,
    last_value(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
    first_value(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
    last_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i0,
    first_value(CASE WHEN value IS NOT NULL THEN rn END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY ts
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS i1
  FROM rns)
SELECT ts, event_type,
  CASE WHEN value IS NOT NULL THEN value
       ELSE v0 + (v1 - v0) * (CAST(rn - i0 AS DOUBLE) / CAST(i1 - i0 AS DOUBLE)) END AS value,
  (value IS NULL) AS is_gap
FROM wdw ORDER BY ts, event_type""",

    "window_agg_1h" ->
      """SELECT date_trunc('hour', ts) AS ts, event_type,
  count(*) AS n, arg_max(value, ts) AS last_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "hopping_window_agg" ->
      """WITH e AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 AS tsec,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
h AS (
  SELECT event_type, cents,
    (tsec // 900) * 900 - k * 900 AS ws_sec
  FROM e, (SELECT unnest(generate_series(0, 3)) AS k))
SELECT ws_sec, event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(cents) AS BIGINT) AS sum_cents
FROM h GROUP BY 1, 2 ORDER BY 1, 2""",

    "time_shift" ->
      """SELECT event_id, ts - INTERVAL 8 HOUR AS ts FROM events ORDER BY event_id""",

    "sort_multi" ->
      """SELECT ts, event_type, event_id, value FROM events
ORDER BY ts, event_type, event_id""",

    "limit_peek" ->
      """SELECT event_id, ts, event_type, value FROM events ORDER BY event_id LIMIT 10""",

    "backfill_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
  count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-09 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
