package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Generators of the repository's sf0.1 fixtures (FIXTURES.md): `events`
  * is 100k rows over 2024-01-01..2024-01-30, `documents` 5000 texts over
  * a 31-word vocabulary, `embeddings` 2000 × 64 floats. The benchmark
  * reads nothing outside its checkout, so it makes the data itself, with
  * the properties its operations depend on measured from the sf0.1
  * files (perfbench/README.md, "Inputs"). The data is fixed (seed 42);
  * a workload's own seed picks its operations, so runs with different
  * seeds differ in what they ask, not in the data.
  */
object Fixtures {
  val Seed = 42L
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)
  val Days = 30
  val EventRows = 100000
  val DocRows = 5000
  val EmbRows = 2000
  val Dim = 64

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Event timestamps are whole seconds plus a microsecond fraction that
    * is distinct for every row (a multiplier coprime to 10^6), so no two
    * rows share a timestamp: "last value per 1 s bin" never has a tie,
    * and an independent engine must agree on every cell.
    */
  def eventRows(): IndexedSeq[Row] = {
    val r = new SplittableRandom(Seed)
    val span = Days * 86400L
    val secs = Array.fill(EventRows)(r.nextLong(span))
    java.util.Arrays.sort(secs)
    val t0 = FirstDay.atStartOfDay()
    (0 until EventRows).map { i =>
      val frac = (i.toLong * 611953L) % 1000000L
      Row(i.toLong, t0.plusSeconds(secs(i)).plusNanos(frac * 1000L),
        r.nextLong(1500L), EventTypes(r.nextInt(EventTypes.size)),
        // exponential with mean 50, cents: the fixture's quartiles are 14.6 / 34.8 / 68.9
        math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** One parquet file, rows in time order: the layout of the fixture. */
  def writeEvents(spark: SparkSession, rows: IndexedSeq[Row], path: String): Unit =
    spark.createDataFrame(rows.asJava, eventSchema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Rows whose `ts` lies in `[from, to)`. */
  def rowsIn(rows: IndexedSeq[Row], from: LocalDateTime, to: LocalDateTime): Long =
    rows.count { row =>
      val t = row.getAs[LocalDateTime](1)
      !t.isBefore(from) && t.isBefore(to)
    }.toLong

  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Documents of 10–100 random words. As in the fixture, about one in
    * twenty is a near-duplicate of another document at a random id: 242
    * copies with the word "dup" appended (word-3-gram Jaccard ≥ 8/9) and
    * 8 exact copies. Returns the rows and the planted id pairs.
    */
  def documents(): (IndexedSeq[Row], Seq[(Long, Long)]) = {
    val r = new SplittableRandom(Seed + 1)
    val (appended, exact) = (242, 8)
    val base = DocRows - appended - exact
    val originals = IndexedSeq.fill(base)(Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" "))
    val sources = IndexedSeq.fill(appended + exact)(r.nextInt(base))
    val texts = originals ++ sources.zipWithIndex.map { case (src, c) =>
      if (c < appended) originals(src) + " dup" else originals(src)
    }
    // text i gets doc_id perm(i), so copies sit at random ids
    val perm = (0 until DocRows).toArray
    for (i <- perm.indices.reverse) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    val planted = sources.zipWithIndex.map { case (src, c) => (perm(src).toLong, perm(base + c).toLong) }
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val rows = texts.indices.sortBy(perm(_)).map { i =>
      Row(perm(i).toLong, texts(i), langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}", texts(i).length.toLong)
    }
    (rows, planted)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** 2000 unit vectors in uniformly random directions, with a label 0–9
    * drawn independently of the vector. As in the fixture, the labels
    * carry no cluster structure (a vector's top 10 share its label at
    * chance rate, 0.1), so every probe is a hard, unclustered query.
    */
  def embeddings(): IndexedSeq[Row] = {
    val r = new SplittableRandom(Seed + 2)
    def gauss(): Double = {
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    (0 until EmbRows).map { i =>
      val v = Array.fill(Dim)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))
}
