package perfbench

import graft.Tables
import graft.config.ExtractQueryConfig
import graft.ext.{AnnIndex, Dedup}
import graft.extract.{DailyCron, Extractor, LongTable, TzMode}
import graft.operators.ExtractOps
import graft.streaming.StreamingExtract
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The extract configuration every extract workload uses: all event
  * types, pivoted on `event_type`, 1 s last-value bins, sorted by time.
  */
object Extract {
  val Cfg = ExtractQueryConfig(
    filter = "r[\"event_type\"] =~ /.*/", columnKey = "event_type", sortBy = Seq("ts"))
  val Table = LongTable(timeCol = "ts", valueCol = "value")
  val Prefix = "prototype-zero_realtime-data"
  val Days: IndexedSeq[LocalDate] = (0 until Fixtures.Days).map(d => Fixtures.FirstDay.plusDays(d.toLong))
}

/** The paper's nightly cron: `DailyCron.runForDay` per day, one CSV each.
  * Under the 2024 zone rule a January day is the UTC window
  * `[d 08:00, d+1 08:00)`.
  */
final class CronDaily(h: Harness) extends Workload {
  private var rows: IndexedSeq[Row] = _
  private val events = s"${h.fix}/events.parquet"
  private val outDir = s"${h.out}/csv"
  private def utcWindow(d: LocalDate) = (d.atStartOfDay.plusHours(8), d.plusDays(1).atStartOfDay.plusHours(8))

  def stage(): Unit = {
    rows = Fixtures.eventRows()
    Fixtures.writeEvents(h.spark, rows, events)
  }

  /** Five untimed days: the driver-side planning code is still being
    * compiled for the first several, and the timed phase should not
    * start on that ramp, whose length varies with machine load.
    */
  def warmup(): Unit =
    for (d <- Extract.Days.slice(8, 13))
      DailyCron.runForDay(Tables.events(h.spark, h.fix), d, Extract.Cfg,
        s"${h.work}/warm", Extract.Prefix, Extract.Table, TzMode.Reference2024)

  def timed(): Unit = {
    // a file where the failing op's output directory would have to be
    new File(s"${h.work}/blocker").createNewFile()
    while (h.timeLeft) for (d <- shuffled(Extract.Days) if h.timeLeft) {
      val (from, to) = utcWindow(d)
      h.op("day", d.toString, Fixtures.rowsIn(rows, from, to), s"$outDir/${Extract.Prefix}_$d.csv") { id =>
        val dir = if (id == h.failOp) s"${h.work}/blocker/csv" else outDir
        if (h.tracer.enabled) {
          // the two calls runForDay makes, each in its own span
          val src = h.tracer("sources.open", id)(Tables.events(h.spark, h.fix))
          val df = h.tracer("extract.query", id)(
            Extractor.queryDataForDay(src, d, Extract.Cfg, Extract.Table, TzMode.Reference2024))
            .getOrElse(throw new IllegalStateException(s"$d below threshold"))
          h.tracer("operators.sink", id)(ExtractOps.writeDailyCsv(df, dir, Extract.Prefix, d))
        } else
          DailyCron.runForDay(Tables.events(h.spark, h.fix), d, Extract.Cfg, dir, Extract.Prefix,
              Extract.Table, TzMode.Reference2024) match {
            case DailyCron.Outcome.Written(_)       => ()
            case DailyCron.Outcome.SinkFailed(e)    => throw e
            case DailyCron.Outcome.BelowThreshold   => throw new IllegalStateException(s"$d below threshold")
          }
      }
    }
  }

  private def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) { val j = h.rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  def outputs: Map[String, Any] = Map("events" -> events, "csv_dir" -> outDir, "prefix" -> Extract.Prefix)
}

/** `ext`: MinHash-LSH near-duplicate pairs over `documents`, one IVF-PQ
  * index build over `embeddings`, then seeded probe batches of 20 corpus
  * vectors through the persisted index with the default re-rank.
  */
final class CorpusIndex(h: Harness) extends Workload {
  private var planted: Seq[(Long, Long)] = Nil
  private var pairs: Seq[Seq[Long]] = Nil
  private val probes = Seq.newBuilder[Seq[Long]]
  private val index = s"${h.out}/ivfpq"
  val K = 10
  val Batch = 20

  def stage(): Unit = {
    val (docs, p) = Fixtures.documents()
    planted = p
    import scala.jdk.CollectionConverters._
    h.spark.createDataFrame(docs.asJava, Fixtures.docSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"${h.fix}/documents.parquet")
    h.spark.createDataFrame(Fixtures.embeddings().asJava, Fixtures.embSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"${h.fix}/embeddings.parquet")
  }

  private def probe(id: Int, ids: Seq[Long], path: String): Array[Row] = {
    val emb = h.tracer("sources.open", id)(Tables.embeddings(h.spark, h.fix))
    h.tracer("ext.index_probe", id)(AnnIndex.ivfPqTopKIndexed(h.spark, path,
      emb.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding", K, rerankFrom = Some(emb))
      .select("query_id", "neighbor_id").collect())
  }

  /** The near-duplicate pass and the index build run once, before the
    * probes they serve: they are recorded as ops (a failure counts) and
    * their time is set-up time. Two untimed probe batches follow.
    */
  def warmup(): Unit = {
    h.op("dedup", "documents", Fixtures.DocRows.toLong) { id =>
      val docs = h.tracer("sources.open", id)(Tables.documents(h.spark, h.fix))
      pairs = h.tracer("ext.dedup", id)(Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
        .select("doc_a", "doc_b").collect()).map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    }
    h.op("index_build", "embeddings", Fixtures.EmbRows.toLong, index) { id =>
      val emb = h.tracer("sources.open", id)(Tables.embeddings(h.spark, h.fix))
      h.tracer("ext.index_build", id)(AnnIndex.ivfPqIndexWrite(emb, "vec_id", "embedding", index,
        n = Fixtures.EmbRows.toLong))
    }
    // the first probe batches plan and compile much more slowly
    for (b <- 0 until 2) probe(-1, (b * Batch).toLong until ((b + 1) * Batch).toLong, index)
  }

  def timed(): Unit =
    while (h.timeLeft) {
      val ids = Iterator.continually(h.rng.nextInt(Fixtures.EmbRows).toLong).distinct.take(Batch).toSeq
      var got: Array[Row] = Array.empty
      h.op("probe", ids.mkString(","), Batch.toLong) { id => got = probe(id, ids, index) }
      probes ++= got.map(r => Seq(r.getLong(0), r.getLong(1)))
    }

  def outputs: Map[String, Any] = Map(
    "embeddings" -> s"${h.fix}/embeddings.parquet", "documents" -> s"${h.fix}/documents.parquet",
    "index" -> index, "k" -> K, "planted" -> planted.map { case (a, b) => Seq(a, b) },
    "pairs" -> pairs, "neighbors" -> probes.result())
}

/** `streaming`: `events` split in time order into 10 seeded batches; each
  * becomes visible in the source directory and runs one
  * `resampleLastStream` → `startFileSink` AvailableNow lifecycle. A final
  * sentinel row an hour past the data closes every window.
  */
final class StreamReplay(h: Harness) extends Workload {
  private val staged = s"${h.fix}/staged"
  private val in = s"${h.out}/in"
  private val sink = s"${h.out}/sink"
  private val ckpt = s"${h.out}/ckpt"
  private var sizes: IndexedSeq[Long] = IndexedSeq.empty
  private var visible = 0
  val Batches = 10

  def stage(): Unit = {
    val rows = Fixtures.eventRows()
    val span = Fixtures.Days * 86400L
    // cut k sits within ±span/200 of k·span/10: batches of 9%–11% of the rows
    val cuts = (1 until Batches).map(k => k * span / Batches + h.rng.nextLong(span / 100) - span / 200)
    val t0 = Fixtures.FirstDay.atStartOfDay()
    def batchOf(r: Row): Int = {
      val s = java.time.Duration.between(t0, r.getAs[LocalDateTime](1)).getSeconds
      cuts.count(_ <= s)
    }
    val last = rows.map(_.getAs[LocalDateTime](1)).max
    val sentinel = Row(-1L, last.plusHours(1).plusSeconds(2), -1L, "__sentinel", 0.0, null)
    val tagged = rows.map(r => Row.fromSeq(r.toSeq :+ batchOf(r))) :+ Row.fromSeq(sentinel.toSeq :+ Batches)
    sizes = (0 until Batches).map(k => tagged.count(_.getInt(6) == k).toLong)
    import scala.jdk.CollectionConverters._
    // one job writes every batch as its own single file: staged/batch=k/
    h.spark.createDataFrame(tagged.asJava, Fixtures.eventSchema.add("batch", "int"))
      .repartition(col("batch")).write.partitionBy("batch").parquet(staged)
  }

  private def lifecycle(id: Int, root: String): Unit = h.tracer("streaming.lifecycle", id) {
    val q = StreamingExtract.startFileSink(
      StreamingExtract.resampleLastStream(
        StreamingExtract.source(h.spark, s"$root/in", Fixtures.eventSchema),
        "ts", "event_type", "value"),
      "ts", s"$root/sink", s"$root/ckpt")
    if (!q.awaitTermination(120000L)) { q.stop(); throw new IllegalStateException("lifecycle timed out") }
  }

  /** Moves the staged batch's parquet file into the source directory. */
  private def publish(batch: Int, root: String): Unit = {
    new File(s"$root/in").mkdirs()
    dataFilesOf(s"$staged/batch=$batch").foreach { f =>
      Files.move(f.toPath, new File(s"$root/in/batch-$batch-${f.getName}").toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }
  private def dataFilesOf(dir: String) = h.dataFiles(dir).filter(_.getName.endsWith(".parquet"))

  /** Two lifecycles over copies of the first batch: stream start-up
    * code is still being compiled after one, and the timed lifecycles
    * would otherwise carry that ramp.
    */
  def warmup(): Unit = {
    val warm = s"${h.work}/warm"
    new File(s"$warm/in").mkdirs()
    for (i <- 0 until 2) {
      Files.copy(dataFilesOf(s"$staged/batch=0").head.toPath, new File(s"$warm/in/warm-$i.parquet").toPath)
      lifecycle(-1, warm)
    }
  }

  def timed(): Unit = {
    for (k <- 0 until Batches if h.timeLeft) {
      publish(k, h.out)
      visible = k + 1
      h.op("lifecycle", s"batch-$k", sizes(k), sink, appendOnly = true)(lifecycle(_, h.out))
    }
    publish(Batches, h.out)
    h.op("sentinel", "sentinel", 1L, sink, appendOnly = true)(lifecycle(_, h.out))
  }

  def outputs: Map[String, Any] = Map("in" -> in, "sink" -> sink, "ckpt" -> ckpt,
    "visible_batches" -> visible)
}
