package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The schema catalog behind every parquet read: a table root's data
  * schema, replayed into later reads via `.schema(...)` so they skip
  * Spark's footer-inference pass and its 1-task schema job (~0.05–0.1 s
  * of driver gap per read — per table per query on the fixtures, per
  * gate batch on the streaming history tables, per probe on the ANN
  * store tables). Data is still read from parquet on every call.
  *
  * One rule:
  *   - an entry is recorded after a [[write]] succeeds, or on the first
  *     inferred [[read]]; a write drops the root's entry before it
  *     starts, so a write that throws leaves none;
  *   - each entry is stamped with the root's modification time, and a
  *     read whose stat differs re-infers and re-records. Every Spark
  *     overwrite of the root, or of one of its partition directories,
  *     moves that mtime, so a table rewritten in place mid-JVM, by any
  *     writer, is read with its new schema;
  *   - the replay is exactly what file-source inference reports: data
  *     fields all nullable ([[asNullable]]), partition columns
  *     (`__batch_id`, `batch`, `listp`) discovered from directory names
  *     by the listing every read does anyway.
  *
  * Keyed by root path, shared across SparkSessions, bounded to
  * [[MaxEntries]] (least recently used out; an evicted root re-infers).
  * `events.ts`'s conf-dependent inference is safe because every events
  * read goes through [[graft.Tables.events]], which pins the conf first.
  */
object SchemaCatalog {

  private final case class Entry(stamp: Long, data: StructType)

  private val MaxEntries = 4096

  private val entries = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
        size() > MaxEntries
    })

  /** Read the parquet table at `root` — or, when `parts` are given, only
    * those sub-directories of it (relative paths, read with
    * `basePath = root` so partition columns above them are still
    * discovered; directories not named are never listed). An absent
    * root bypasses the catalog and fails with Spark's own error.
    */
  def read(spark: SparkSession, root: String, parts: Seq[String] = Nil): DataFrame = {
    val reader = if (parts.isEmpty) spark.read else spark.read.option("basePath", root)
    val paths = if (parts.isEmpty) Seq(root) else parts.map(p => s"$root/$p")
    stampOf(spark, root) match {
      case None => reader.parquet(paths: _*)
      case Some(stamp) =>
        Option(entries.get(root)).filter(_.stamp == stamp) match {
          case Some(e) => reader.schema(e.data).parquet(paths: _*)
          case None =>
            val df = reader.parquet(paths: _*)
            entries.put(root, Entry(stamp, dataSchema(df)))
            df
        }
    }
  }

  /** Overwrite `root` (or its sub-directory `part`) with `df` as parquet,
    * partitioned by `partitionBy`, then record `root`'s data schema. */
  def write(df: DataFrame, root: String, part: String = "",
      partitionBy: Seq[String] = Nil): Unit = {
    entries.remove(root)
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(if (part.isEmpty) root else s"$root/$part")
    val data = StructType(df.schema.filterNot(f => partitionBy.contains(f.name)))
    stampOf(df.sparkSession, root).foreach(s =>
      entries.put(root, Entry(s, asNullable(data).asInstanceOf[StructType])))
  }

  /** The recorded data schema of `root`, if any (spec seam). */
  private[graft] def cached(root: String): Option[StructType] =
    Option(entries.get(root)).map(_.data)

  private def stampOf(spark: SparkSession, root: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The inferred read's data columns — its schema minus the discovered
    * partition columns, which every replayed read re-discovers. */
  private def dataSchema(df: DataFrame): StructType =
    df.queryExecution.logical.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].dataSchema
    }.getOrElse(df.schema)

  // Catalyst's StructType.asNullable is private[sql]; this is its exact
  // recursion — file-source reads report everything nullable, so a
  // schema recorded from a written DataFrame must too.
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(keyType = asNullable(m.keyType),
        valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
