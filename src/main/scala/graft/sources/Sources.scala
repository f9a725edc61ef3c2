package graft.sources

import graft.config.ConfigLoader
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** JDBC source configuration — the production ingestion path of the
  * north star (BASELINE.json "spark_approach": "JDBC source + DataFrame
  * writes"): where the reference holds an InfluxDB HTTP client
  * (`/root/reference/src/database_extractor/database_extractor.py:187-205`),
  * this engine reads any JDBC store through Spark's pushdown-capable
  * JDBC relation.
  *
  * Scale: `partitionColumn`/`numPartitions` shard the read into
  * parallel range queries (the JDBC equivalent of file splits); without
  * them a JDBC read is ONE connection on one task. Catalyst pushes
  * comparison/IN predicates and column pruning into the generated SQL.
  */
final case class JdbcSourceConfig(
    url: String,
    table: String,
    user: String = "",
    password: String = "",
    driver: String = "",
    partitionColumn: Option[String] = None,
    lowerBound: Option[Long] = None,
    upperBound: Option[Long] = None,
    numPartitions: Int = 8,
    fetchSize: Int = 10000
)

object JdbcSource {

  /** Pure option-map construction (unit-testable without a database). */
  def options(cfg: JdbcSourceConfig): Map[String, String] = {
    val base = Map(
      "url" -> cfg.url,
      "dbtable" -> cfg.table,
      "fetchsize" -> cfg.fetchSize.toString)
    val auth = Seq(
      "user" -> cfg.user,
      "password" -> cfg.password,
      "driver" -> cfg.driver).filter(_._2.nonEmpty)
    val part = (cfg.partitionColumn, cfg.lowerBound, cfg.upperBound) match {
      case (Some(c), Some(lo), Some(hi)) => Map(
        "partitionColumn" -> c,
        "lowerBound" -> lo.toString,
        "upperBound" -> hi.toString,
        "numPartitions" -> cfg.numPartitions.toString)
      case _ => Map.empty[String, String]
    }
    base ++ auth ++ part
  }

  def reader(spark: SparkSession, cfg: JdbcSourceConfig): DataFrameReader =
    spark.read.format("jdbc").options(options(cfg))

  def read(spark: SparkSession, cfg: JdbcSourceConfig): DataFrame =
    reader(spark, cfg).load()

  /** Reference parity for the connect-then-ping gate
    * (`database_extractor.py:187-205`: construct client, `ping()`,
    * abort the extract on failure): opens ONE raw JDBC connection and
    * runs `probeSql` (default `VALUES 1` — valid on Derby and
    * standard SQL; pass `SELECT 1` for engines that require a FROM-less
    * select). Returns false instead of throwing so the caller can gate
    * a scheduled extract exactly as the reference does. Driver-side by
    * design — a health probe must not spin up executors.
    */
  /** Serializes the JVM-global login-timeout set/restore below: two
    * overlapping pings could otherwise interleave set A / set B /
    * restore A / restore B and leave a stale 5 s timeout installed
    * for every later connect in the JVM (r15 advice). Connects made
    * OUTSIDE the lock still observe the temporary value for the
    * bounded duration of one ping — the unavoidable cost of a global
    * knob; the lock guarantees the prior value always comes back.
    */
  private val loginTimeoutLock = new Object

  def ping(cfg: JdbcSourceConfig, probeSql: String = "VALUES 1", timeoutSec: Int = 5): Boolean =
    try {
      if (cfg.driver.nonEmpty) Class.forName(cfg.driver)
      // the statement query-timeout below only bounds the probe query;
      // getConnection itself would block for the full TCP timeout
      // (minutes) against an unreachable host — bound the login too, so
      // the gate actually gates a scheduled extract instead of hanging
      // it. setLoginTimeout is JVM-global; set/restore under the lock.
      val conn = loginTimeoutLock.synchronized {
        val prevLogin = java.sql.DriverManager.getLoginTimeout
        java.sql.DriverManager.setLoginTimeout(timeoutSec)
        try {
          if (cfg.user.nonEmpty)
            java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
          else java.sql.DriverManager.getConnection(cfg.url)
        } finally java.sql.DriverManager.setLoginTimeout(prevLogin)
      }
      try {
        val st = conn.createStatement()
        try { st.setQueryTimeout(timeoutSec); st.execute(probeSql); true }
        finally st.close()
      } finally conn.close()
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Build from a TOML `[jdbc]` section (key names mirror the Spark
    * option names; the reference's analogous client config is
    * `config/.influxdb.toml-default`).
    */
  def fromToml(section: ConfigLoader.Section): JdbcSourceConfig =
    JdbcSourceConfig(
      url = section.getOrElse("url", "").toString,
      table = section.getOrElse("table", "").toString,
      user = section.getOrElse("user", "").toString,
      password = section.getOrElse("password", "").toString,
      driver = section.getOrElse("driver", "").toString,
      partitionColumn = section.get("partition_column").map(_.toString),
      lowerBound = section.get("lower_bound").map(_.asInstanceOf[Long]),
      upperBound = section.get("upper_bound").map(_.asInstanceOf[Long]),
      numPartitions = section.get("num_partitions").map(_.asInstanceOf[Long].toInt).getOrElse(8),
      fetchSize = section.get("fetch_size").map(_.asInstanceOf[Long].toInt).getOrElse(10000))
}

/** Idempotent JDBC sink — the write side of the S2 surface and a
  * `foreachBatch` body for Structured Streaming: key-wise
  * DELETE-then-INSERT inside one transaction per partition, so a
  * crash-replay of the same micro-batch OVERWRITES rather than
  * duplicates (the same replay posture as
  * [[graft.streaming.BatchTable.writeBatchPartition]] gives parquet
  * sinks). DELETE+INSERT instead of engine-specific MERGE keeps it
  * portable across JDBC stores; both statements run through JDBC
  * batching, one commit per partition.
  *
  * Shape at scale: each executor partition writes its own rows over
  * its own connection — parallelism is the DataFrame's partition
  * count, the mirror image of the partitioned read. The driver never
  * sees a row.
  */
object JdbcSink {

  /** Quote a (possibly schema-qualified) identifier with the store's
    * quote string ONLY when it needs quoting (non-word characters, or an
    * embedded quote — the breakage/injection vector): plain lowercase
    * names stay unquoted so the store's usual case folding still matches
    * tables created unquoted (quoting `events` as `"events"` would MISS
    * a Derby/Postgres table folded to `EVENTS`/`events` — always-quote
    * is only safe when the same layer also created the table).
    */
  private[graft] def quoteIdent(name: String, quote: String): String = {
    val q = Option(quote).map(_.trim).getOrElse("")
    name.split('.').map { part =>
      if (q.isEmpty || part.matches("[A-Za-z_][A-Za-z0-9_]*")) part
      else q + part.replace(q, q + q) + q
    }.mkString(".")
  }

  /** Upsert `df` into `cfg.table` keyed by `keyCols`. Supported column
    * types: the JDBC-standard scalar set (long/int/double/float/
    * string/boolean/timestamp/date); anything else is set via
    * setObject and left to the driver.
    *
    * Key invariant: after the call, the table holds AT MOST ONE row per
    * key from this batch, regardless of how many updates for that key
    * the batch carried (streaming micro-batches legitimately carry
    * several) — the input is repartitioned ON THE KEY COLUMNS (a key
    * split across two partitions would otherwise commit in arbitrary
    * order) and deduplicated to the last row per key within each
    * partition before any statement runs. WHICH same-key row survives
    * follows partition iteration order — callers that need a specific
    * winner (e.g. latest-by-timestamp) should reduce to one row per key
    * upstream (`max_by`); the uniqueness invariant holds either way.
    * `numPartitions > 0` bounds write parallelism (one connection per
    * partition); 0 keeps the session's shuffle-partition default.
    */
  def upsert(df: DataFrame, cfg: JdbcSourceConfig, keyCols: Seq[String],
      numPartitions: Int = 0): Unit = {
    val schema = df.schema
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains),
      s"key columns $keyCols must exist in ${schema.fieldNames.mkString(",")}")
    val cols = schema.fieldNames.toSeq
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val url = cfg.url; val user = cfg.user; val password = cfg.password
    val driver = cfg.driver; val table = cfg.table
    val keyColumns = keyCols.map(org.apache.spark.sql.functions.col)
    val parted =
      if (numPartitions > 0) df.repartition(numPartitions, keyColumns: _*)
      else df.repartition(keyColumns: _*)
    parted.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        if (driver.nonEmpty) Class.forName(driver)
        val conn =
          if (user.nonEmpty) java.sql.DriverManager.getConnection(url, user, password)
          else java.sql.DriverManager.getConnection(url)
        try {
          // identifier quoting needs the live connection's quote string
          // — built per partition, negligible next to the writes
          val q = conn.getMetaData.getIdentifierQuoteString
          val deleteSql = s"DELETE FROM ${quoteIdent(table, q)} WHERE ${
            keyCols.map(c => s"${quoteIdent(c, q)} = ?").mkString(" AND ")}"
          val insertSql = s"INSERT INTO ${quoteIdent(table, q)} (${
            cols.map(quoteIdent(_, q)).mkString(", ")}) VALUES (${
            cols.map(_ => "?").mkString(", ")})"
          // last row per key wins: without this, the partition's DELETEs
          // all run before its INSERTs, so N same-key rows would insert
          // N duplicates. Buffers the partition — size write partitions
          // for executor memory, as with any buffered sink.
          val last = new java.util.LinkedHashMap[Seq[Any], org.apache.spark.sql.Row]()
          // key values normalize before use: a binary key column reads
          // back as Array[Byte], which compares by REFERENCE — same-key
          // rows would not collapse and the DELETE-then-INSERT would
          // insert duplicates (or abort on a PRIMARY KEY). Arrays wrap
          // to value-equal Seqs (r15 advice).
          def normKey(v: Any): Any = v match {
            case b: Array[_] => b.toSeq
            case x => x
          }
          rows.foreach(r => last.put(keyIdx.toSeq.map(i => normKey(r.get(i))), r))
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          try {
            last.values().forEach { r =>
              keyIdx.zipWithIndex.foreach { case (ci, pi) => del.setObject(pi + 1, r.get(ci)) }
              del.addBatch()
              cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
              ins.addBatch()
            }
            del.executeBatch(); ins.executeBatch(); conn.commit()
          } finally { del.close(); ins.close() }
        } catch {
          case e: Throwable => try conn.rollback() catch { case _: Throwable => () }; throw e
        } finally conn.close()
      }
    }
  }
}

/** File sources with explicit schemas (schema inference is a full
  * extra scan on CSV/JSON — never at 100 TB). Parquet carries its
  * schema in the footer; [[SchemaCatalog]] infers it once per file
  * version and replays it.
  */
object FileSources {
  def parquet(spark: SparkSession, path: String): DataFrame =
    SchemaCatalog.read(spark, path)

  def csv(spark: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — the other columnar format Spark bundles natively; schema
    * travels in the file like parquet, so no explicit schema needed.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
