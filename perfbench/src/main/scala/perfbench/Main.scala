package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One operation: a day, a probe batch or a stream lifecycle (or a
  * corpus set-up pass). A throw (or a cron `SinkFailed`) is recorded with
  * its error and never timed as a success.
  */
final case class OpRec(id: Int, kind: String, detail: String, start: Double, wallS: Double,
    ok: Boolean, error: String, rowsIn: Long, traced: Boolean, files: Long, bytes: Long)

/** Runs one workload in one process, closed loop with a single caller:
  * each operation starts when the previous one has returned. Writes
  * `result.json` under `--work`; `perfbench/run.py` checks the outputs
  * and turns it into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --cores N [--fail-op I]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val h = new Harness(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("work"), o("cores").toInt, o.get("fail-op").fold(-1)(_.toInt))
    val w: Workload = h.workload match {
      case "cron_daily"    => new CronDaily(h)
      case "corpus_index"  => new CorpusIndex(h)
      case "stream_replay" => new StreamReplay(h)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    h.run(w)
  }
}

trait Workload {
  /** Write this run's fixtures. */
  def stage(): Unit
  /** One untimed operation on throwaway outputs, so lazy set-up is done. */
  def warmup(): Unit
  /** The timed phase: call `h.op` until `h.timeLeft` is false. */
  def timed(): Unit
  /** Workload facts `run.py` needs to check the outputs. */
  def outputs: Map[String, Any]
}

final class Harness(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String, val cores: Int, val failOp: Int) {
  val fix = s"$work/fixtures"
  val out = s"$work/out"
  var spark: SparkSession = _
  var tracer: Tracer = _
  private var listener: EngineListener = _
  val rng = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 1)
  val ops = mutable.ArrayBuffer[OpRec]()
  private val kindSeen = mutable.Map[String, Int]().withDefaultValue(0)
  private var deadline = Double.MaxValue

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def timeOf[T](body: => T): Double = {
    val t0 = Clock.nowMs
    body
    (Clock.nowMs - t0) / 1000.0
  }

  def timeLeft: Boolean = Clock.nowMs < deadline

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Data files under `path` (names not starting with `.` or `_`). */
  def dataFiles(path: String): Seq[File] = {
    val f = new File(path)
    if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(c => dataFiles(c.getPath))
    else if (f.isFile) Seq(f)
    else Nil
  }

  /** Runs one operation. The first op of each kind is traced in a traced
    * run, then every other one, so the same run also times untraced ops
    * of the same kind and the difference is the tracing overhead. `sink`
    * is the directory whose data files the op leaves behind (none if
    * empty); with `appendOnly` only the files it added are counted.
    */
  def op(kind: String, detail: String, rowsIn: Long, sink: String = "", appendOnly: Boolean = false)(
      body: Int => Unit): Unit = {
    val id = ops.size
    val traced = trace && kindSeen(kind) % 2 == 0
    kindSeen(kind) += 1
    val before = if (appendOnly) dataFiles(sink).map(_.getPath).toSet else Set.empty[String]
    if (traced) spark.sparkContext.addSparkListener(listener)
    tracer.enabled = traced
    val t0 = Clock.nowMs
    val err =
      try { tracer("op", id)(body(id)); "" }
      catch { case NonFatal(e) => Option(e.toString).getOrElse(e.getClass.getName) }
    val wall = (Clock.nowMs - t0) / 1000.0
    tracer.enabled = false
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val written = dataFiles(sink).filterNot(f => before.contains(f.getPath))
    ops += OpRec(id, kind, detail, t0, wall, err.isEmpty, err, rowsIn, traced,
      written.size.toLong, written.map(_.length).sum)
  }

  def run(w: Workload): Unit = {
    delete(out)
    val sessionS = timeOf(startSession())
    val stageS = timeOf { delete(fix); w.stage() }
    tracer = new Tracer(spark.sparkContext)
    listener = new EngineListener
    val warmupS = timeOf { w.warmup(); delete(s"$work/warm") }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val t0 = Clock.nowMs
    deadline = t0 + seconds * 1000.0
    w.timed()
    val timedS = (Clock.nowMs - t0) / 1000.0
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "trace" -> trace, "session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmupS,
      "timed_start" -> t0, "timed_s" -> timedS, "heap_peak_mb" -> heapPeak,
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "detail" -> o.detail,
        "start" -> o.start, "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error,
        "rows_in" -> o.rowsIn, "traced" -> o.traced, "files" -> o.files, "bytes" -> o.bytes)),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end)),
      "jobs" -> listener.records,
      "outputs" -> w.outputs)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(s"$work/result.json"), result)
  }
}
