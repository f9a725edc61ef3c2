package graft.extract

import graft.config.{ConfigLoader, ExtractQueryConfig}
import graft.operators.ExtractOps
import org.apache.spark.sql.DataFrame

/** The cron entry point — the Spark mirror of the reference's `main()`
  * (`/root/reference/main.py:36-41`): compute the previous day from the
  * process start time, run the midnight-anchored daily extract, sink to
  * the dated CSV. Error posture matches `process_results`
  * (`database_extractor.py:345-355`): below-threshold days and sink
  * failures are LOGGED and swallowed — a nightly cron must not crash the
  * schedule over one bad day — and surfaced to callers as an [[Outcome]]
  * so tests (and a real scheduler's retry policy) can see what happened.
  */
object DailyCron {

  /** What happened to one day's extract — the machine-readable form of
    * the reference's three log lines (ignore / csv created / error).
    */
  sealed trait Outcome
  object Outcome {
    /** CSV written: `csv created for {date}.` (`database_extractor.py:355`). */
    final case class Written(path: String) extends Outcome
    /** `Less than 10 rows for {date}; Ignoring results.` (`:341-343`). */
    case object BelowThreshold extends Outcome
    /** Sink raised; logged and swallowed (`:352-353`). */
    final case class SinkFailed(error: Throwable) extends Outcome
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `previous_day` from `main.py:39`: midnight of the start time's date,
    * minus one day — the day a midnight cron run should extract.
    */
  def previousDay(now: java.time.LocalDateTime): java.time.LocalDate =
    now.toLocalDate.minusDays(1)

  /** The reference's `setup_logging` (`main.py:23-33`) made concrete on
    * the Spark classpath: throw `FileNotFoundException` when the config
    * is absent (same contract), ensure `logs/` exists, and apply the
    * `loggers:` section's level overrides through log4j2 (the engine
    * Spark already routes slf4j into — rotation/handlers stay in the
    * hands of the deployment's log4j2 properties, where Spark configures
    * them).
    */
  def setupLogging(filepath: String = "config/logger.yaml"): Unit = {
    val p = java.nio.file.Paths.get(filepath)
    if (!java.nio.file.Files.exists(p)) throw new java.io.FileNotFoundException(filepath)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("logs"))
    val cfg = ConfigLoader.parseYaml(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    cfg.getOrElse("loggers", Map.empty).foreach {
      case (name, spec: Map[_, _]) =>
        spec.asInstanceOf[Map[String, Any]].get("level").foreach { lvl =>
          org.apache.logging.log4j.core.config.Configurator.setLevel(
            name, org.apache.logging.log4j.Level.toLevel(lvl.toString))
        }
      case _ => ()
    }
  }

  /** One day, end to end: `query_data_for_day` → threshold guard → dated
    * CSV, with the reference's log-and-continue sink posture. This is the
    * unit a scheduler invokes once per day. The guard is the reference's
    * 10-row floor (`database_extractor.py:341`), raised to `minRows`
    * when that is higher (`batched_data`'s data_threshold, [[runRange]]);
    * either way the day's extract is counted once.
    */
  def runForDay(
      source: DataFrame,
      date: java.time.LocalDate,
      cfg: ExtractQueryConfig,
      outDir: String,
      prefix: String,
      table: LongTable = LongTable(),
      tzMode: TzMode = TzMode.Reference2024,
      minRows: Long = 10L
  ): Outcome = {
    val threshold = math.max(10L, minRows)
    Extractor.queryDataForDay(source, date, cfg, table, tzMode, minRows = threshold) match {
      case None =>
        log.info(s"Less than $threshold rows for $date; Ignoring results.")
        Outcome.BelowThreshold
      case Some(df) =>
        val path = s"$outDir/${prefix}_$date.csv"
        try {
          ExtractOps.writeDailyCsv(df, outDir, prefix, date)
          log.info(s"csv created for $date.")
          Outcome.Written(path)
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.error(e.toString)
            Outcome.SinkFailed(e)
        }
    }
  }

  /** The reference's `batched_data` loop (`main.py:115-149`): one
    * [[runForDay]] per day of `[start, end)` with its data_threshold=20
    * guard. Returns the per-day outcomes in date order; one bad day logs
    * and continues. This is the faithful serial shape — for a large
    * backfill prefer [[Extractor.backfillRange]] +
    * [[graft.operators.ExtractOps.upsertDays]] (one plan, one shuffle,
    * partitioned sink).
    */
  def runRange(
      source: DataFrame,
      start: java.time.LocalDate,
      end: java.time.LocalDate,
      cfg: ExtractQueryConfig,
      outDir: String,
      prefix: String = "prototype-zero_realtime-data",
      table: LongTable = LongTable(),
      tzMode: TzMode = TzMode.Reference2024,
      minRows: Long = 20L
  ): Seq[(java.time.LocalDate, Outcome)] =
    graft.time.TimeArithmetic.datesInRange(start, end).map(date =>
      date -> runForDay(source, date, cfg, outDir, prefix, table, tzMode, minRows))

  /** The full `main()` flow: load the application config (any
    * `load_config` format), derive the previous day from `now`, extract,
    * sink. `now` is a parameter rather than a clock read so runs are
    * reproducible (a cron passes the actual start time; tests pin one).
    */
  def run(
      source: DataFrame,
      configPath: String,
      outDir: String,
      now: java.time.LocalDateTime,
      prefix: String = "prototype-zero_realtime-data",
      table: LongTable = LongTable(),
      tzMode: TzMode = TzMode.Reference2024
  ): Outcome = {
    val cfg = ConfigLoader.queryConfig(ConfigLoader.load(configPath)("query"))
    runForDay(source, previousDay(now), cfg, outDir, prefix, table, tzMode)
  }
}
