package graft.streaming

import graft.sources.SchemaCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch-partitioned append table every ingest-time gate shares:
  * one `__batch_id=N` partition directory per micro-batch, written
  * with DYNAMIC partition overwrite so a crash-replay of a batch
  * overwrites its own partition instead of appending duplicates, plus
  * the small-files compaction that folds committed batches into a
  * single `__batch_id=-1` partition. Factored out of
  * [[StreamingDedupGate]] (r11 verdict item 5) so the text-signature
  * table and the image-fingerprint table run the identical lifecycle —
  * any future per-modality state table (audio fingerprints, embedding
  * sketches) gets append/gate/compact for free.
  *
  * The component is schema-agnostic: nothing here reads a data column.
  * The one semantic requirement is on the CONSUMER: a gate reading
  * this table must tolerate duplicate rows (aggregate `min(id)` over
  * matches, as both dedup gates do), because compaction's
  * crash-window can transiently leave a signature present twice —
  * see [[compact]].
  */
object BatchTable {

  /** Partition column keying the table by micro-batch. */
  val BatchCol = "__batch_id"

  /** Partition value holding compacted history ([[compact]]).
    * foreachBatch ids are non-negative, so −1 never collides with a
    * live batch and is never excluded by a replay's own-partition
    * filter. */
  val CompactedBatch = -1L

  /** Idempotent per-batch write: overwrite the `__batch_id=N` partition
    * DIRECTORY wholesale, leaving other batches' partitions untouched —
    * the same replace-own-partition semantics the dynamic-overwrite
    * spelling had, minus its staging/commit machinery (which listed and
    * moved every file through a hidden staging dir per write; the
    * partition value comes from the directory name exactly as
    * [[compact]]'s output does). REBALANCE before the write lets AQE
    * size the output files by bytes instead of inheriting the upstream
    * task count: a small micro-batch lands as ONE file rather than one
    * per scan/shuffle task (32 per batch at bench core counts — paid
    * again by every later gate's history scan), and a large one still
    * splits at the advisory partition size (guide-standard output
    * sizing; verdicts are unaffected — same rows, fewer files). The
    * write goes through [[SchemaCatalog]], so each gate batch's later
    * history scan replays the written schema instead of inferring it. */
  def writeBatchPartition(df: DataFrame, batchId: Long, dir: String): Unit =
    SchemaCatalog.write(df.hint("rebalance"), dir, s"$BatchCol=$batchId")

  /** Read the table EXCLUDING `batchId`'s own partition — the gate's
    * history view: on replay, the prior attempt's rows must not gate
    * the batch against itself (partition filter — prunes, never
    * scans). The partition column is dropped; consumers see only data
    * columns. Call only when [[hasData]] — a partitioned read of an
    * absent/empty dir throws. */
  def readExcluding(spark: SparkSession, dir: String, batchId: Long): DataFrame =
    SchemaCatalog.read(spark, dir).filter(col(BatchCol) =!= batchId).drop(BatchCol)

  /** Read the whole table (all batches, data columns only) — the
    * consumer-side read of a finished replay/ingest. */
  def readAll(spark: SparkSession, dir: String): DataFrame =
    SchemaCatalog.read(spark, dir).drop(BatchCol)

  /** Maintenance pass: fold the per-batch partitions for batches
    * `0..upToBatch` (plus any prior compaction) into the single
    * `__batch_id=-1` partition — the small-files compaction an
    * always-on ingest needs so the history side stays a few large
    * column-pruned files instead of one directory per micro-batch.
    *
    * Safety: the folded rows are staged to a dot-prefixed temp dir
    * (invisible to partition discovery), renamed into place, and only
    * then are the source partitions deleted. A crash between rename
    * and deletes leaves some rows present TWICE — which a gate
    * tolerates by construction: its tiers aggregate `min(hid)` over
    * matches, so duplicate history rows cannot change a verdict
    * (spec-asserted for both gates). Re-running compaction converges.
    *
    * Committed-only rule, ENFORCED: folding a batch the checkpoint has
    * not committed would move its rows into `__batch_id=-1`, where a
    * replay's own-partition filter (`=!= batchId`) no longer excludes
    * them — the replayed batch would gate against its own prior rows
    * and mark every doc a dup of itself. The only batch AvailableNow
    * can replay is the LATEST one present, so the cheap sufficient
    * guard is `upToBatch < max live batch id`; violations throw rather
    * than corrupt.
    */
  def compact(spark: SparkSession, dir: String, upToBatch: Long): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    val present = fs.listStatus(base).map(_.getPath.getName)
      .filter(_.startsWith(s"$BatchCol="))
      .map(n => n.substring(BatchCol.length + 1).toLong)
    val live = present.filter(_ >= 0)
    if (live.nonEmpty && upToBatch >= live.max)
      throw new IllegalArgumentException(
        s"compact(upToBatch=$upToBatch) would fold the latest live batch " +
          s"(${live.max}), which a checkpoint replay may re-run; " +
          // live.max-1 would read "-1" when only batch 0 exists —
          // colliding with the CompactedBatch sentinel, so say it plainly
          (if (live.max == 0)
             "nothing is safely compactable yet — gate the next batch first"
           else s"compact only up to ${live.max - 1} (or gate the next batch first)"))
    val foldable = present
      .filter(b => b == CompactedBatch || (b >= 0 && b <= upToBatch))
    if (foldable.isEmpty) return
    val tmp = new org.apache.hadoop.fs.Path(base, ".compact_tmp")
    fs.delete(tmp, true) // stale temp from a crashed prior run
    // one deduplicated rewrite of the folded partitions (distinct makes
    // a crash-before-delete leftover self-healing on the next run); the
    // partition column is discovered from the directory names and
    // dropped, so the staged files carry only the data columns
    SchemaCatalog.read(spark, dir, foldable.map(b => s"$BatchCol=$b"))
      .drop(BatchCol)
      .distinct()
      .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8))
      .write.mode("overwrite").parquet(tmp.toString)
    // drop the _SUCCESS marker so the renamed dir is pure data files
    fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
    val dest = new org.apache.hadoop.fs.Path(base, s"$BatchCol=$CompactedBatch")
    fs.delete(dest, true)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"compaction rename failed: $tmp -> $dest")
    foldable.filter(_ != CompactedBatch).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(base, s"$BatchCol=$b"), true)
    }
  }

  /** Whether the table has any visible parquet data. Mirrors Spark's
    * hidden-file rule during the walk: parquet files under '.'/'_'
    * paths (e.g. a crashed compaction's .compact_tmp) are invisible to
    * spark.read.parquet, so they must not make this report history
    * that the partitioned read won't see — and pruning those subtrees
    * also keeps the walk short. Spark's rule
    * (InMemoryFileIndex.shouldFilterOutPathName) EXEMPTS '_'-prefixed
    * names containing '=' — exactly this sink's own `__batch_id=N`
    * partition directories, which must stay visible or every batch
    * would take the "day 1: no history" branch. */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def walk(path: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(path).exists { st =>
        if (hidden(st.getPath.getName)) false
        else if (st.isDirectory) walk(st.getPath)
        else st.getPath.getName.endsWith(".parquet")
      }
    fs.exists(p) && walk(p)
  }
}
