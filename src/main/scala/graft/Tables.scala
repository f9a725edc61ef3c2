package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test data (TESTDATA.md).
  * At 100 TB these would be date-partitioned directories / a catalog
  * table; the read call is the only thing that changes. Every read goes
  * through [[graft.sources.SchemaCatalog]], so the footer schema is
  * inferred once per file version, not once per query.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every query path passes through here — make sure the native
    // planner surface (top-k strategy + window-topk rewrite) is live
    graft.plans.GraftPlanner.ensure(spark)
    graft.sources.FileSources.parquet(spark, s"$dir/$name.parquet")
  }

  /** `events.ts` has shipped in different encodings across driver
    * rounds: Parquet INT64 TIMESTAMP(NANOS) (FIXTURES.md §B, rounds
    * 1-9) and TIMESTAMP_NTZ micros (isAdjustedToUTC=0, since round
    * 10). The nanos layout is rejected by Spark's vectorized reader —
    * read it as raw longs via the legacy conf and convert with integer
    * division (`ts div 1000` stays in Long; a double division would
    * lose precision above 2^53 ns). NTZ/TZ pass through untouched —
    * downstream consumers that need an epoch (`unix_micros`, BIGINT
    * casts, `withWatermark`) hop through `.cast("timestamp")`, a no-op
    * on TZ and value-preserving on NTZ under the pinned UTC session
    * tz. TsEncodingSpec pins all three encodings end-to-end.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // time-range filters on the converted column are opaque to the
    // parquet scan; this rule adds widened raw-nanos bounds that reach
    // row-group stats (see NanosRangePushdown)
    if (!s.experimental.extraOptimizations.contains(graft.plans.NanosRangePushdown))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.NanosRangePushdown
    val raw = table(s, dir, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def lineitem(s: SparkSession, dir: String): DataFrame = table(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = table(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = table(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = table(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = table(s, dir, "region")
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")
}
