package graft

import graft.ext.AnnIndex
import graft.sources.SchemaCatalog
import graft.streaming.BatchTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one schema catalog behind every parquet read
  * (graft.sources.SchemaCatalog): a path rewritten in place mid-JVM
  * reads back its new schema, whichever layer reads it; a write that
  * throws records nothing; and a replayed schema is exactly the one a
  * fresh `spark.read.parquet` infers, for every read shape the program
  * uses.
  */
class SchemaCatalogSpec extends SparkSuite {

  private def frame(cols: (String, Column)*): DataFrame =
    spark.range(6).select(cols.map { case (n, c) => c.as(n) }: _*)

  private def names(df: DataFrame): Seq[String] = df.columns.toSeq

  /** Spark jobs launched while `read` builds its DataFrame — footer
    * inference is one; a replayed schema launches none. Job events reach
    * the status store asynchronously, so a positive count is awaited
    * and a zero count is read after a grace period. */
  private def jobsWhile(read: => DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"catalog-${System.nanoTime}"
    sc.setJobGroup(group, group)
    try read finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis + 1000
    var n = 0
    while (n == 0 && System.currentTimeMillis < deadline) {
      Thread.sleep(50); n = sc.statusTracker.getJobIdsForGroup(group).length
    }
    n
  }

  test("(a) a Tables fixture rewritten in place reads back its new schema") {
    val dir = tempDir("cat-tables")
    frame("a" -> col("id"), "b" -> col("id").cast("string"))
      .write.parquet(s"$dir/t.parquet")
    assert(names(Tables.table(spark, dir, "t")) == Seq("a", "b"))
    frame("a" -> col("id"), "c" -> (col("id") * 2.0))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(names(again) == Seq("a", "c"))
    assert(again.agg(sum("c")).head().getDouble(0) == 30.0)
  }

  test("(a) a BatchTable dir rewritten in place by another writer reads back its new schema") {
    val dir = tempDir("cat-batch")
    BatchTable.writeBatchPartition(
      frame("id" -> col("id"), "sig" -> col("id").cast("string")), 0L, dir)
    assert(names(BatchTable.readAll(spark, dir)) == Seq("id", "sig"))
    frame("id" -> col("id"), "fp" -> (col("id") + 100L))
      .write.mode("overwrite").parquet(s"$dir/${BatchTable.BatchCol}=0")
    val again = BatchTable.readAll(spark, dir)
    assert(names(again) == Seq("id", "fp"))
    assert(again.agg(sum("fp")).head().getLong(0) == 615L)
  }

  test("(a) an AnnIndex store table migrated in place reads back its new schema") {
    import spark.implicits._
    val dir = tempDir("cat-ann")
    val rnd = new scala.util.Random(3L)
    val emb = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    AnnIndex.ivfIndexWrite(emb, "vec_id", "embedding", dir, numCentroids = 4, nProbe = 2)
    val before = AnnIndex.ivfCentroids(spark, dir).map { case (l, v) => (l, v.toSeq) }
    // a format migration renames the centroid vector column
    before.map { case (l, v) => (l, v) }.toDF("list", "vec")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val after = AnnIndex.ivfCentroids(spark, dir).map { case (l, v) => (l, v.toSeq) }
    assert(after == before)
    assert(SchemaCatalog.cached(s"$dir/centroids").map(_.fieldNames.toSeq)
      .contains(Seq("list", "vec")))
  }

  test("(b) a write that throws leaves no catalog entry") {
    // the table dir is a regular FILE: the partition dir create fails
    // with ENOTDIR (robust even as root, unlike permission bits)
    val notADir = SparkSuite.registerForCleanup(
      java.nio.file.Files.createTempFile("cat-notadir", ""))
    intercept[Exception](BatchTable.writeBatchPartition(
      frame("id" -> col("id"), "sig" -> col("id").cast("string")), 0L, notADir))
    assert(SchemaCatalog.cached(notADir).isEmpty)
    // what then lands on disk is what a read reports — not the failed
    // writer's intent
    java.nio.file.Files.delete(java.nio.file.Paths.get(notADir))
    frame("id" -> col("id"), "fp" -> (col("id") + 100L))
      .write.parquet(s"$notADir/${BatchTable.BatchCol}=0")
    assert(names(BatchTable.readAll(spark, notADir)) == Seq("id", "fp"))
  }

  /** Nested and non-nullable fields: the replayed schema must still be
    * the all-nullable one inference reports. */
  private def nested: DataFrame = spark.range(5).select(
    col("id"),
    array(col("id"), col("id") + 1L).as("arr"),
    struct(col("id").as("x"), lit("s").as("y")).as("st"),
    map(lit("k"), col("id")).as("m"),
    (col("id") % 2).cast("int").as("listp"))

  test("(c) replay equals fresh inference: flat table") {
    val root = s"${tempDir("cat-flat")}/t"
    SchemaCatalog.write(nested, root)
    assert(jobsWhile(SchemaCatalog.read(spark, root)) == 0, "write did not record")
    assert(SchemaCatalog.read(spark, root).schema == spark.read.parquet(root).schema)
    // a table no catalog write produced: inferred once, then replayed
    val raw = s"${tempDir("cat-flat-raw")}/t"
    nested.write.parquet(raw)
    assert(jobsWhile(SchemaCatalog.read(spark, raw)) >= 1, "first read did not infer")
    assert(jobsWhile(SchemaCatalog.read(spark, raw)) == 0, "inferred read did not record")
    assert(SchemaCatalog.read(spark, raw).schema == spark.read.parquet(raw).schema)
  }

  test("(c) replay equals fresh inference: __batch_id-partitioned dir") {
    val dir = tempDir("cat-part")
    for (b <- Seq(0L, 1L)) BatchTable.writeBatchPartition(nested, b, dir)
    assert(jobsWhile(SchemaCatalog.read(spark, dir)) == 0, "write did not record")
    val replayed = SchemaCatalog.read(spark, dir).schema
    assert(replayed == spark.read.parquet(dir).schema)
    assert(replayed.fieldNames.contains(BatchTable.BatchCol))
    assert(BatchTable.readAll(spark, dir).count() == 10L)
  }

  test("(c) replay equals fresh inference: multi-batch basePath read") {
    val root = tempDir("cat-base")
    val parts = Seq("batch=c00001", "batch=c00002")
    parts.foreach(p => SchemaCatalog.write(nested, root, p, Seq("listp")))
    assert(SchemaCatalog.cached(root).exists(!_.fieldNames.contains("listp")))
    assert(jobsWhile(SchemaCatalog.read(spark, root, parts)) == 0, "write did not record")
    val replayed = SchemaCatalog.read(spark, root, parts).schema
    assert(replayed == spark.read.option("basePath", root)
      .parquet(parts.map(p => s"$root/$p"): _*).schema)
    assert(replayed.fieldNames.toSeq.takeRight(2) == Seq("batch", "listp"))
  }
}
