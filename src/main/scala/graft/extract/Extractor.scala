package graft.extract

import graft.config.ExtractQueryConfig
import graft.operators.ExtractOps._
import graft.time.{DeltaTime, TimeArithmetic}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Names of the time/value columns of a long-format series table. The
  * reference hard-wires InfluxDB's `_time`/`_value`
  * (`/root/reference/src/database_extractor/database_extractor.py:295`);
  * the driver's `events` table uses `ts`/`value` (FIXTURES.md §B).
  */
final case class LongTable(timeCol: String = "_time", valueCol: String = "_value")

/** How [[Extractor.queryDataForDay]] derives the day's tz offset —
  * the reference derives it from the date via its hard-coded 2024 DST
  * rule (`database_extractor.py:380-381`), never from config.
  */
sealed trait TzMode
object TzMode {
  /** Use `cfg.tzOffset` verbatim (the plain [[Extractor.queryDatabase]] contract). */
  case object Fixed extends TzMode
  /** Faithful port: the reference's 2024-only rule (`database_extractor.py:358-366`). */
  case object Reference2024 extends TzMode
  /** The general path: real zone rules, correct for every year. */
  final case class Zone(zone: String = "America/Vancouver") extends TzMode
}

/** End-to-end extraction pipeline — the Spark collapse of the reference's
  * two-engine dataflow (SURVEY §3.1): Flux range/filter/pivot/sort on the
  * server plus pandas resample/dropna/sink on the client become one lazy
  * Catalyst plan; the only action is at the sink.
  */
object Extractor {

  /** The windowed aggregate for the fused pivot, keyed by the config's
    * `aggregate_function` (reference key at `database_extractor.py:145`;
    * Flux `aggregateWindow(fn:)` semantics). `last`/`first` are the
    * order-independent `max_by`/`min_by`-on-timestamp forms (safe under
    * shuffles — see [[graft.operators.ExtractOps.resampleLast]]); the
    * rest map 1:1 onto codegen'd built-ins. Unknown names throw rather
    * than silently degrading to `last`.
    */
  private[graft] def windowAgg(fn: String, value: Column, time: Column): Column =
    fn match {
      case "last"   => max_by(value, when(value.isNotNull, time))
      case "first"  => min_by(value, when(value.isNotNull, time))
      case "mean"   => avg(value)
      case "min"    => min(value)
      case "max"    => max(value)
      case "sum"    => sum(value)
      case "count"  => count(value)
      case "median" => median(value)
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported aggregate_function '$other' (expected last|first|mean|min|max|sum|count|median)")
    }

  /** Port of `query_database` (`database_extractor.py:251-323`) +
    * `process_results` (`:335-355`) minus the sink: range → timeShift →
    * filter → 1s-resampled last → pivot wide → drop → dropna(all) → sort.
    *
    * The reference pivots at raw timestamps and resamples afterwards;
    * because "last non-null per 1 s bin" commutes with the pivot, we fuse
    * them into a single `groupBy(window).pivot.agg(max_by)` — one shuffle
    * instead of two, with map-side partial aggregation.
    */
  def queryDatabase(
      source: DataFrame,
      cfg: ExtractQueryConfig,
      queryTime: String,
      table: LongTable = LongTable(),
      pivotKeys: Option[Seq[String]] = None
  ): DataFrame = {
    val (startUtc, stopUtc) = TimeArithmetic.constructQueryTimeEndpoints(
      queryTime, cfg.deltaTimeStart, cfg.deltaTimeEnd, cfg.tzOffset)

    val filtered = source
      .transform(timeRange(table.timeCol, startUtc, stopUtc))
      .transform(timeShift(table.timeCol, cfg.tzOffset))
      .transform(rowFilter(cfg.filter))

    // fused pivot + resample-last (see scaladoc): one hash aggregate
    val every = graft.time.FluxDuration.toSparkInterval(cfg.aggregateWindow)
    val g = filtered.groupBy(window(col(table.timeCol), every).as("w"))
    val p = pivotKeys.fold(g.pivot(cfg.columnKey))(ks => g.pivot(cfg.columnKey, ks))
    val wide = p
      .agg(windowAgg(cfg.aggregateFunction, col(table.valueCol), col(table.timeCol)))
      .withColumn(table.timeCol, col("w.start"))
      .drop("w")

    val valueCols = wide.columns.filterNot(_ == table.timeCol).toSeq
    wide
      .transform(dropCols(cfg.columnsToDrop))
      .transform(dropAllNull(valueCols.filterNot(cfg.columnsToDrop.contains)))
      .transform(sortByCols(if (cfg.sortBy.nonEmpty) Seq(table.timeCol) ++ cfg.sortBy.filterNot(_ == table.timeCol) else Seq(table.timeCol)))
  }

  /** Port of `query_data_for_day` (`database_extractor.py:369-399`): a
    * midnight-anchored 24 h extract. Returns `None` below `minRows` rows
    * — the reference's 10-row threshold (`database_extractor.py:341`)
    * unless a caller raises it ([[DailyCron.runRange]]).
    *
    * The reference derives `tz_offset` from the date itself
    * (`database_extractor.py:380-381` calls `timezone_offset(current_date)`
    * on the day's midnight) — `tzMode` selects that derivation:
    * [[TzMode.Reference2024]] is the faithful port, [[TzMode.Zone]] the
    * every-year zone-rules path, [[TzMode.Fixed]] keeps `cfg.tzOffset`.
    */
  def queryDataForDay(
      source: DataFrame,
      date: java.time.LocalDate,
      cfg: ExtractQueryConfig,
      table: LongTable = LongTable(),
      tzMode: TzMode = TzMode.Reference2024,
      pivotKeys: Option[Seq[String]] = None,
      minRows: Long = 10L
  ): Option[DataFrame] = {
    val midnight = date.atStartOfDay()
    val tz = tzMode match {
      case TzMode.Fixed         => cfg.tzOffset
      case TzMode.Reference2024 => TimeArithmetic.timezoneOffset2024(midnight)
      case TzMode.Zone(zone)    => TimeArithmetic.timezoneOffset(midnight, zone)
    }
    val dayCfg = cfg.copy(
      deltaTimeStart = DeltaTime(),
      deltaTimeEnd = DeltaTime(hours = 24),
      tzOffset = tz)
    thresholdGuard(queryDatabase(source, dayCfg, s"${date}T00:00:00Z", table, pivotKeys), minRows)
  }

  /** Range backfill, scale path: where the reference loops one serial
    * query per day (`query_data_for_range`, `database_extractor.py:402-420`;
    * `batched_data`, `main.py:115-149`), run ONE plan over `[start, end)`
    * and let the writer partition by day — N-1 fewer scans/shuffles and no
    * serial driver loop. The per-day union variant [[backfillUnion]] keeps
    * the faithful shape for comparison.
    */
  def backfillRange(
      source: DataFrame,
      start: java.time.LocalDate,
      end: java.time.LocalDate,
      cfg: ExtractQueryConfig,
      table: LongTable = LongTable()
  ): DataFrame = {
    val days = java.time.temporal.ChronoUnit.DAYS.between(start, end)
    require(days > 0, s"empty range [$start, $end)")
    val rangeCfg = cfg.copy(
      deltaTimeStart = DeltaTime(),
      deltaTimeEnd = DeltaTime(days = days.toInt))
    queryDatabase(source, rangeCfg, s"${start}T00:00:00Z", table)
  }

  /** Faithful per-day loop, fused via `union` instead of per-day files. */
  def backfillUnion(
      source: DataFrame,
      start: java.time.LocalDate,
      end: java.time.LocalDate,
      cfg: ExtractQueryConfig,
      table: LongTable = LongTable(),
      tzMode: TzMode = TzMode.Reference2024
  ): Option[DataFrame] = {
    val frames = TimeArithmetic.datesInRange(start, end)
      .flatMap(d => queryDataForDay(source, d, cfg, table, tzMode))
    frames.reduceOption(_ unionByName _)
  }
}
