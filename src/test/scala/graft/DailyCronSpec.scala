package graft

import graft.config.ExtractQueryConfig
import graft.extract.{DailyCron, LongTable, TzMode}
import graft.time.DeltaTime

/** End-to-end cron-entry behavior (`/root/reference/main.py:36-41` +
  * the log-and-continue posture of `database_extractor.py:341-355`).
  */
class DailyCronSpec extends SparkSuite {

  private val ET = LongTable(timeCol = "ts", valueCol = "value")
  private val cfg = ExtractQueryConfig(
    filter = "r[\"event_type\"] =~ /.*/",
    columnKey = "event_type",
    sortBy = Seq("ts"))

  test("previousDay is midnight-anchored minus one day (main.py:39)") {
    val now = java.time.LocalDateTime.of(2024, 1, 3, 0, 0, 7)
    assert(DailyCron.previousDay(now) == java.time.LocalDate.of(2024, 1, 2))
    val midday = java.time.LocalDateTime.of(2024, 3, 1, 13, 45, 0)
    assert(DailyCron.previousDay(midday) == java.time.LocalDate.of(2024, 2, 29))
  }

  test("run: previous-day extract lands in the dated CSV (cron happy path)") {
    val dir = tempDir("cron")
    val cfgPath = java.nio.file.Paths.get(dir, "application.json")
    java.nio.file.Files.writeString(cfgPath,
      """{"query": {
        |  "filter": "r[\"event_type\"] =~ /.*/",
        |  "column_key": "event_type",
        |  "sort_by": ["ts"]
        |}}""".stripMargin)
    // cron fires just after midnight UTC on Jan 3 → extracts Jan 2,
    // whose window under the 2024 winter rule is [02T08:00Z, 03T08:00Z)
    val out = DailyCron.run(
      Tables.events(spark, "/root/testdata/sf0.001"),
      cfgPath.toString, dir,
      now = java.time.LocalDateTime.of(2024, 1, 3, 0, 0, 7),
      table = ET)
    out match {
      case DailyCron.Outcome.Written(path) =>
        assert(path.endsWith("prototype-zero_realtime-data_2024-01-02.csv"))
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(path))
          .toArray.map(_.toString).filter(_.endsWith(".csv"))
        assert(files.nonEmpty, s"no csv part under $path")
        val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
        assert(lines.head.split(",").contains("ts"), lines.head)
        assert(lines.size > 10)
      case other => fail(s"expected Written, got $other")
    }
  }

  test("below-threshold day is skipped, not written (database_extractor.py:341-343)") {
    val dir = tempDir("cron")
    val out = DailyCron.runForDay(
      Tables.events(spark, "/root/testdata/sf0.001"),
      java.time.LocalDate.of(2030, 6, 6), cfg, dir,
      prefix = "p0", table = ET)
    assert(out == DailyCron.Outcome.BelowThreshold)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "p0_2030-06-06.csv")))
  }

  test("runRange writes one dated CSV per qualifying day (batched_data, main.py:115-149)") {
    val dir = tempDir("cron-range")
    val outcomes = DailyCron.runRange(
      Tables.events(spark, "/root/testdata/sf0.001"),
      java.time.LocalDate.of(2024, 1, 2), java.time.LocalDate.of(2024, 1, 5),
      cfg, dir, prefix = "p0", table = ET, tzMode = TzMode.Fixed)
    assert(outcomes.map(_._1) == (2 to 4).map(d => java.time.LocalDate.of(2024, 1, d)))
    // sf0.001 has data on each of these days; every day lands
    assert(outcomes.forall(_._2.isInstanceOf[DailyCron.Outcome.Written]), outcomes.toString)
    for (d <- 2 to 4)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"p0_2024-01-0$d.csv")), s"missing day $d")
    // a data-free range: every day below threshold, nothing written
    val empty = DailyCron.runRange(
      Tables.events(spark, "/root/testdata/sf0.001"),
      java.time.LocalDate.of(2030, 1, 1), java.time.LocalDate.of(2030, 1, 3),
      cfg, dir, prefix = "p0", table = ET)
    assert(empty.forall(_._2 == DailyCron.Outcome.BelowThreshold))
    // a day of 15 rows clears the reference's 10-row floor but not
    // batched_data's data_threshold=20: below threshold, nothing written
    import org.apache.spark.sql.functions._
    val fixture = Tables.events(spark, "/root/testdata/sf0.001")
    val day = java.time.LocalDate.of(2030, 6, 6)
    val fifteen = fixture.limit(15)
      .withColumn("ts", timestamp_seconds(lit(day.atTime(12, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC)) +
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("event_id")))
        .cast(fixture.schema("ts").dataType))
      .withColumn("event_type", lit("spec_day"))
      .withColumn("value", lit(1.0))
    val source = fixture.unionByName(fifteen)
    def one(minRows: Long) = DailyCron.runRange(source, day, day.plusDays(1),
      cfg, dir, prefix = "p1", table = ET, tzMode = TzMode.Fixed, minRows = minRows)
    assert(one(20L) == Seq(day -> DailyCron.Outcome.BelowThreshold))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"p1_$day.csv")))
    // the same day does qualify at the 10-row floor (the spec is not vacuous)
    assert(one(10L).map(_._2).forall(_.isInstanceOf[DailyCron.Outcome.Written]))
  }

  test("sink failure is logged and swallowed, not thrown (database_extractor.py:352-353)") {
    // outDir is a regular FILE: the csv dir create fails with ENOTDIR
    // (robust even as root, where permission bits don't block writes)
    val notADir = java.nio.file.Paths.get(SparkSuite.registerForCleanup(
      java.nio.file.Files.createTempFile("cron-notadir", "")))
    val out = DailyCron.runForDay(
      Tables.events(spark, "/root/testdata/sf0.001"),
      java.time.LocalDate.of(2024, 1, 2), cfg, notADir.toString,
      prefix = "p0", table = ET)
    assert(out.isInstanceOf[DailyCron.Outcome.SinkFailed], out.toString)
  }
}
