package graft.ext

import graft.functions.{AnnExprs, VectorOps}
import graft.sources.SchemaCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes — the build-once / query-many split the
  * in-flight operators ([[Similarity.lshTopK]], [[Similarity.ivfTopK]])
  * deliberately do not make. At 100 TB the corpus-side work (signature
  * hashing / centroid assignment, the hot-bucket census, one full
  * corpus pass each) dwarfs any single query batch, and a production
  * pipeline amortizes it: the index is materialized to the lake once
  * per corpus snapshot and every retrieval / hard-negative / dedup-gate
  * batch after that pays only the probe-side cost. Measured at 1M
  * vectors (recordings/ann_index_r18.jsonl): the direct operator
  * re-pays ~the full corpus cost per batch, the indexed probe pays
  * seconds.
  *
  * Two layouts, mirroring the two probe disciplines:
  *
  *   - LSH (`lshIndexWrite` / `lshTopKIndexed`): `sigs/` holds the
  *     SLIM exploded signature table (t, b, neighbor_id) — 16 bytes a
  *     row instead of the in-flight frame's vector-carrying rows, so
  *     the T-fold signature expansion costs T×16B/vector on disk, not
  *     T×|vector| — with the hot-bucket census ([[BucketCap.dropHot]])
  *     kept in its own small `hot/` blocklist; `vectors/` holds each
  *     surviving vector ONCE. A probe is: broadcast query probe keys →
  *     bucket join on (t, b) → distinct slim pairs → shuffle-hash join
  *     back to `vectors/` → map-side cosine against the broadcast query
  *     vectors → per-query top-k. Cosine is deterministic per pair, so
  *     scoring after the distinct is result-identical to the in-flight
  *     operator's score-then-distinct (AnnIndexSpec pins frame
  *     equality).
  *   - IVF (`ivfIndexWrite` / `ivfTopKIndexed`): `lists/` is
  *     PARTITIONED BY the assigned centroid list, so a query batch
  *     that probes P of L lists reads ~P/L of the corpus bytes from
  *     disk — genuine IO pruning (the spec asserts the PartitionFilters
  *     reach the scan), where the in-flight operator always rescans and
  *     reassigns the whole corpus. Partition values are fixed-width
  *     strings (`L%019d`) so Hive-style type inference can never flip
  *     the partition column's type between corpora whose list ids do or
  *     don't exceed Int range (list ids are corpus vector ids).
  *
  * == Crash-safe mutations (manifest commits) ==
  *
  * Mutations are SINGLE-WRITER-PER-INDEX: crash safety here means a
  * killed mutation can never corrupt what readers see, not that two
  * concurrent mutators serialize — two appends racing from the same
  * base epoch would target the same batch token, and the manifest
  * commit fails loud (no pre-delete before the rename) rather than
  * letting the last writer silently absorb the other's batches.
  * Serialize mutations per index path (readers need no coordination).
  *
  * Every mutation (build, append, compact) writes its rows into a NEW
  * batch-stamped directory (`sigs/batch=c00002/`, `lists/batch=c00002/
  * listp=…/`) and COMMITS by writing a one-file manifest under `meta/`
  * via create-temp-then-rename — atomic on any sane filesystem. The
  * manifest is a SNAPSHOT: it names the complete batch-directory set a
  * reader may touch (plus the shape fields and, for LSH, which hot
  * census epoch applies). Probes read ONLY manifest-listed batches, so
  * a mutation killed between its sigs-append and its vectors-append
  * leaves orphan directories that no probe ever sees — the r18 layout's
  * torn-append hole (signature rows whose candidates silently vanished
  * at the rehydrate join) is structurally impossible: a torn index IS
  * the previous index. AnnIndexSpec kills a simulated append between
  * the two data writes and pins probe identity with the pre-append
  * index.
  *
  * [[lshIndexCompact]] folds the committed batch generations into one
  * (N daily appends = N file generations scanned by every probe
  * otherwise) — row-identical by construction, committed by the same
  * manifest discipline; superseded directories are left on disk until
  * [[vacuum]] removes everything the current manifest no longer
  * references.
  *
  * Both indexes carry the shape (kind, tables/bits or lists/nProbe,
  * dim, seed, corpus count) in the manifest — the probe side
  * reconstructs the EXACT plane set / probe discipline from it, so an
  * index built at one derived shape is never probed at another.
  * Reading an index of the wrong kind fails fast, and a probe against
  * an index whose stored rows outgrew the build-time shape `n` by more
  * than 10× fails fast too (the derived signature width / list count
  * assumed occupancy at `n` — rebuild instead of silently degrading).
  */
object AnnIndex {

  /** LSH index shape descriptor. `n` is the corpus size the SHAPE was
    * derived from (pinned at build — size it for the target corpus when
    * building ahead of appends); `rows` is the currently stored vector
    * count, maintained by [[lshIndexAppend]]. A probe fails fast once
    * `rows > 10×n` (see class doc).
    */
  final case class LshMeta(tables: Int, bits: Int, dim: Int, seed: Long,
      maxBucket: Int, n: Long, rows: Long)

  /** IVF index shape descriptor. `n`/`rows` as in [[LshMeta]]: list
    * count pinned at build, `rows` maintained by [[ivfIndexAppend]].
    */
  final case class IvfMeta(lists: Int, nProbe: Int, dim: Int, n: Long, rows: Long)

  private val KindLsh = "lsh"
  private val KindIvf = "ivf"

  /** Fixed-width, type-inference-proof partition value for an IVF list
    * id (see class doc).
    */
  private def listPart(c: org.apache.spark.sql.Column) =
    format_string("L%019d", c)

  // ------------------------------------------------------------------
  // LSH
  // ------------------------------------------------------------------

  /** Build and persist the LSH index for `corpus` under `path`
    * (`sigs/`, `vectors/`, `hot/`, `meta/`). Shape derivation is
    * byte-identical to the adaptive [[Similarity.lshTopK]]: derived
    * signature width ([[Dedup.adaptiveLshBits]]), coupled table count
    * ([[Dedup.multiprobeTables]]), prefix-stable planes, zero-norm
    * corpus vectors excluded, buckets above `maxBucket` dropped at
    * probe time via the `hot/` blocklist. Any previous index at `path`
    * is removed first (a stale higher-epoch manifest must never shadow
    * the fresh build). Returns the persisted meta.
    */
  def lshIndexWrite(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      seed: Long = 42L,
      dim: Int = 64,
      maxBucket: Int = 100000,
      n: Long = -1L
  ): LshMeta = {
    deleteDir(corpus.sparkSession, path)
    val nn = Dedup.corpusCount(corpus, n, "lshIndexWrite")
    val bits = Dedup.adaptiveLshBits(nn)
    val empty = LshMeta(Dedup.multiprobeTables(bits), bits, dim, seed, maxBucket, nn, 0L)
    // rawRows tracks the rows actually INGESTED (pre-filter), not the
    // shape-sizing `n` the caller may have pinned to a larger target
    // corpus: counting it from `n` would double-count the headroom
    lshWriteBatch(corpus.sparkSession, path, Manifest(KindLsh, 0, Nil, "", lshFields(empty, 0L)),
      empty, corpus, idCol, vecCol, if (n >= 0L) None else Some(nn))
  }

  /** Recompute the hot-bucket blocklist from the named signature
    * batches — one map-side-partial count over 16-byte rows, never
    * touching vectors — and persist it under the mutation's own epoch
    * token (`hot/<tok>`): the manifest names which census a reader
    * applies, so a crash after the census but before the commit leaves
    * the previous (consistent) census in force. Pigeonhole-bounded
    * output (≤ rows·tables/cap buckets), so the probe side can
    * broadcast it.
    */
  private def writeLshHot(spark: SparkSession, path: String,
      sigBatches: Seq[String], maxBucket: Int, tok: String): Unit =
    SchemaCatalog.write(readBatches(spark, s"$path/sigs", sigBatches)
      .groupBy("t", "b").agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > maxBucket)
      .select("t", "b"), s"$path/hot/$tok")

  /** `rawRows` is the PRE-FILTER corpus row count (zero-norm rows
    * included), maintained across appends: the in-flight
    * [[Similarity.lshTopK]] derives its flat-vs-coupled probe shape
    * from the RAW corpus count, so the indexed probe must use the same
    * basis or a corpus containing zero-norm rows could flip the
    * decision right at the maxFlatQ boundary and break the
    * indexed-equals-in-flight frame identity AnnIndexSpec pins (r19
    * advice).
    */
  private def lshFields(meta: LshMeta, rawRows: Long): Seq[(String, Long)] =
    Seq("tables" -> meta.tables.toLong, "bits" -> meta.bits.toLong,
      "dim" -> meta.dim.toLong, "seed" -> meta.seed,
      "maxBucket" -> meta.maxBucket.toLong, "n" -> meta.n,
      "rows" -> meta.rows, "rawRows" -> rawRows)

  private def lshMetaOf(man: Manifest): LshMeta = {
    val m = man.fields
    LshMeta(m("tables").toInt, m("bits").toInt, m("dim").toInt, m("seed"),
      m("maxBucket").toInt, m("n"), m("rows"))
  }

  /** Append a batch of new vectors to a persisted LSH index WITHOUT
    * re-hashing the existing corpus — the daily-batch maintenance path:
    * hash only the batch with the index's pinned planes, write its slim
    * sigs and vectors into a NEW batch directory, recompute the
    * hot-bucket blocklist over the union (slim scan; see
    * [[writeLshHot]]), then commit the manifest naming the enlarged
    * batch set — the LAST step, so a crash anywhere before it leaves
    * the previous index fully intact (orphan dirs only). Batch ids must
    * be disjoint from the stored ids (caller contract, same as any
    * corpus union). The SHAPE stays pinned at the build's `n` — build
    * with `n` sized for the target corpus; probes fail fast when `rows`
    * outgrows `10×n`. Returns the updated meta.
    */
  def lshIndexAppend(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): LshMeta = {
    val man = readManifest(spark, path, KindLsh)
    lshWriteBatch(spark, path, man, lshMetaOf(man), batch, idCol, vecCol, None)
  }

  /** The one mutation body behind [[lshIndexWrite]] (from the empty
    * epoch-0 index) and [[lshIndexAppend]]: hash `batch` with the
    * planes `meta` pins, write its slim sigs and its vectors into the
    * next batch directory (mode overwrite: a torn previous attempt at
    * this epoch left uncommitted leftovers in exactly these dirs —
    * replace, never mix), recompute the hot census over the enlarged
    * batch set, then commit. `rawCount` is the batch's pre-filter row
    * count when the caller already knows it; otherwise it is counted.
    */
  private def lshWriteBatch(spark: SparkSession, path: String, man: Manifest,
      meta: LshMeta, batch: DataFrame, idCol: String, vecCol: String,
      rawCount: Option[Long]): LshMeta = {
    val planes = Similarity.hyperplanesPrefix(meta.tables, meta.bits, meta.dim, meta.seed)
    val tok = tokenOf(man.epoch + 1)
    val base = Similarity.corpusSide(batch, idCol, vecCol)
    // sigs are stored UNCAPPED; the hot-bucket census lives in its own
    // small `hot/` blocklist so an append can maintain it without
    // rewriting the signature table (a bucket crossing the cap only
    // AFTER an append must still drop — a pre-capped store could never
    // resurrect the rows it already threw away)
    SchemaCatalog.write(base.select(col("neighbor_id"),
      posexplode(AnnExprs.lshBuckets(col("cv"), planes)).as(Seq("t", "b")))
      .hint("rebalance"), // size-targeted files, not one per upstream task
      s"$path/sigs", s"batch=$tok")
    SchemaCatalog.write(base.hint("rebalance"), s"$path/vectors", s"batch=$tok")
    writeLshHot(spark, path, man.batches :+ tok, meta.maxBucket, tok)
    val added = readBatches(spark, s"$path/vectors", Seq(tok)).count()
    val updated = meta.copy(rows = meta.rows + added)
    commit(spark, path,
      Manifest(KindLsh, man.epoch + 1, man.batches :+ tok, tok,
        lshFields(updated, lshRawRows(man) + rawCount.getOrElse(batch.count()))))
    updated
  }

  /** Fold the committed batch generations of `sigs/` and `vectors/`
    * into ONE batch directory — the maintenance pass after a run of
    * [[lshIndexAppend]]s (N appends = N parquet generations scanned by
    * every probe; measured at 20 appends in
    * recordings/ann_compact_r19.jsonl). Row-identical by construction
    * (the same rows, re-clustered), committed by the same
    * manifest-last discipline, so probes anywhere in the window see
    * either the multi-batch or the compacted index — never a mix.
    * Superseded directories stay on disk for in-flight readers until
    * [[vacuum]]. No-op (returns the current meta) when the index
    * already has a single batch.
    */
  def lshIndexCompact(spark: SparkSession, path: String): LshMeta = {
    val man = readManifest(spark, path, KindLsh)
    val meta = lshMetaOf(man)
    if (man.batches.size <= 1) return meta
    val tok = tokenOf(man.epoch + 1)
    SchemaCatalog.write(readBatches(spark, s"$path/sigs", man.batches)
      .select("neighbor_id", "t", "b")
      .hint("rebalance"), // AQE sizes the compacted generation by bytes
      s"$path/sigs", s"batch=$tok")
    SchemaCatalog.write(readBatches(spark, s"$path/vectors", man.batches)
      .select("neighbor_id", "cv")
      .hint("rebalance"), s"$path/vectors", s"batch=$tok")
    writeLshHot(spark, path, Seq(tok), meta.maxBucket, tok)
    commit(spark, path,
      Manifest(KindLsh, man.epoch + 1, Seq(tok), tok,
        lshFields(meta, lshRawRows(man))))
    meta
  }

  /** The maintained raw corpus count (see [[lshFields]]); indexes
    * committed before the field existed fall back to the positive-norm
    * `rows` (exact when the corpus had no zero-norm vectors).
    */
  private def lshRawRows(man: Manifest): Long =
    man.fields.getOrElse("rawRows", man.fields("rows"))

  /** Load the persisted LSH meta (fails fast on a non-LSH index). */
  def lshMeta(spark: SparkSession, path: String): LshMeta =
    lshMetaOf(readManifest(spark, path, KindLsh))

  /** Approximate top-k against a persisted LSH index — the amortized
    * probe side of [[Similarity.lshTopK]]'s adaptive shape (flat deep
    * query-directed probing, [[Similarity.TopKProbeBudget]]:
    * [[Similarity.TopKProbeDepth]] unless overridden). Result frame is
    * identical to running the in-flight operator over the same corpus
    * (AnnIndexSpec pins it). Reads ONLY manifest-committed batch
    * directories, so a torn concurrent mutation is invisible.
    */
  def lshTopKIndexed(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      probeBudget: Int = 0,
      probeDepth: Int = 0,
      queriesCount: Long = -1L,
      probeBroadcastMax: Long = Similarity.ProbeBroadcastMaxBytes
  ): DataFrame = {
    val man = readManifest(spark, path, KindLsh)
    val meta = lshMetaOf(man)
    requireFresh(meta.n, meta.rows, path)
    val planes = Similarity.hyperplanesPrefix(meta.tables, meta.bits, meta.dim, meta.seed)
    val qBase = Similarity.querySide(queries, idCol, vecCol)
    // the corpus basis is the manifest's RAW count (zero-norm rows
    // included), the basis the in-flight operator counts — the stored
    // positive-norm `rows` could flip the flat-vs-coupled decision at
    // the maxFlatQ boundary and break indexed-equals-in-flight
    // identity (r19 advice)
    val (budget, depth) = Similarity.lshProbeShape(meta.bits, lshRawRows(man), qBase,
      queriesCount, probeBudget, probeDepth)
    val qx = qBase.select(col("query_id"),
        posexplode(AnnExprs.lshProbeKeys(col("qv"), planes, budget, depth))
          .as(Seq("t", "bs")))
      .select(col("query_id"), col("t"), explode(col("bs")).as("b"))
    // same probe-side broadcast-vs-shuffle tier switch as lshTopK
    // (slim ~40 B rows here — the indexed probe affords ~7× more
    // queries per broadcast byte than the in-flight operator)
    val keys = Similarity.probeKeysPerTable(meta.bits, budget, depth)
    val maxQ = probeBroadcastMax / math.max(1L, meta.tables.toLong * keys * 40L)
    val qn = Similarity.boundedCount(qBase, maxQ, queriesCount)
    // candidate ids stay SLIM through the bucket join and the distinct
    // (~16 B rows — the candidate stream is the T×probe-fold expansion,
    // never carry vectors through it: the r15 refine lesson), then one
    // shuffle-hash join rehydrates the surviving pairs from `vectors/`
    // and the broadcast query set supplies qv for the map-side cosine.
    // the hot blocklist is applied at probe time (broadcast anti-join,
    // map-side) — row-identical to a pre-capped store, and it stays
    // correct across appends (see lshIndexWrite); the manifest names
    // WHICH census epoch applies, so blocklist and batch set can never
    // be torn apart
    val sigs = readBatches(spark, s"$path/sigs", man.batches)
      .join(broadcast(SchemaCatalog.read(spark, s"$path/hot/${man.hotTok}")),
        Seq("t", "b"), "left_anti")
    // beyond the cap the join stays UNHINTED: AQE picks shuffle-hash
    // while the slim probe build fits executor memory and a spillable
    // sort-merge beyond (a forced shuffle_hash measured an unspillable
    // hash-map OOM on the in-flight operator's vector-carrying frame)
    val cand = (if (qn <= maxQ) sigs.join(broadcast(qx), Seq("t", "b"))
                else sigs.join(qx, Seq("t", "b")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    // the qv rehydrate has its own (much larger) broadcast bound and so
    // its own decision count (r18 review catch). Row size follows the
    // INDEX's dim (a hard-coded dim-64 size underestimated a 1024-dim
    // index's rows ~13x — r18 advice)
    val maxQv = probeBroadcastMax / (40L + 4L * meta.dim)
    val qvSide =
      if (Similarity.boundedCount(qBase, maxQv, queriesCount) <= maxQv) broadcast(qBase)
      else qBase
    val scored = cand
      .join(readBatches(spark, s"$path/vectors", man.batches).hint("shuffle_hash"),
        Seq("neighbor_id"))
      .join(qvSide, Seq("query_id"))
      .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
      .select("query_id", "neighbor_id", "cos")
    Similarity.rankedTopK(scored, "cos", scoreDesc = true, k)
  }

  // ------------------------------------------------------------------
  // IVF
  // ------------------------------------------------------------------

  /** Build and persist the IVF index for `corpus` under `path`
    * (`lists/` partitioned by assigned list, `centroids/`, `meta/`).
    * Defaults mirror the adaptive [[Similarity.ivfTopK]]: derived list
    * count ([[Similarity.adaptiveIvfLists]]), coupled probe count
    * ([[Similarity.adaptiveIvfProbes]]), hash-picked seed centroids —
    * pass `trainedCentroids` (e.g. [[Similarity.kmeansCentroids]]) to
    * persist refined lists instead. Any previous index at `path` is
    * removed first. Returns the persisted meta.
    */
  def ivfIndexWrite(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numCentroids: Int = 0,
      nProbe: Int = 0,
      trainedCentroids: Option[Seq[(Long, Array[Double])]] = None,
      n: Long = -1L
  ): IvfMeta = {
    val spark = corpus.sparkSession
    import spark.implicits._
    deleteDir(spark, path)
    val nn = Dedup.corpusCount(corpus, n, "ivfIndexWrite")
    val (lists, probeCount, cents) = Similarity.ivfGeometry(corpus, idCol, vecCol,
      numCentroids, nProbe, trainedCentroids, nn)
    SchemaCatalog.write(cents.toDF("list", "centv").repartition(1), s"$path/centroids")
    val empty = IvfMeta(lists, probeCount, cents.headOption.map(_._2.length).getOrElse(64), nn, 0L)
    ivfWriteBatch(spark, path, Manifest(KindIvf, 0, Nil, "", ivfFields(empty)), empty, cents,
      corpus, idCol, vecCol)
  }

  private def ivfFields(meta: IvfMeta): Seq[(String, Long)] =
    Seq("lists" -> meta.lists.toLong, "nProbe" -> meta.nProbe.toLong,
      "dim" -> meta.dim.toLong, "n" -> meta.n, "rows" -> meta.rows)

  private def ivfMetaOf(man: Manifest): IvfMeta = {
    val m = man.fields
    IvfMeta(m("lists").toInt, m("nProbe").toInt, m("dim").toInt, m("n"), m("rows"))
  }

  /** Load the persisted IVF meta (fails fast on a non-IVF index). */
  def ivfMeta(spark: SparkSession, path: String): IvfMeta =
    ivfMetaOf(readManifest(spark, path, KindIvf))

  /** The persisted centroids, in (list, centv) driver form — bounded by
    * the IVF contract (centroids are driver-small).
    */
  def ivfCentroids(spark: SparkSession, path: String): Seq[(Long, Array[Double])] =
    SchemaCatalog.read(spark, s"$path/centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** Append a batch to a persisted IVF index: assign only the batch
    * against the PINNED centroids and write its rows into a new
    * batch's list partitions — no reassignment of the stored corpus,
    * no centroid drift (retrain + rebuild when the corpus outgrows the
    * build's `n`); the manifest commit is last, so a killed append
    * leaves the previous index intact. Batch ids must be disjoint from
    * the stored ids. Returns the updated meta.
    */
  def ivfIndexAppend(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): IvfMeta = {
    val man = readManifest(spark, path, KindIvf)
    ivfWriteBatch(spark, path, man, ivfMetaOf(man), ivfCentroids(spark, path),
      batch, idCol, vecCol)
  }

  /** The one mutation body behind [[ivfIndexWrite]] (from the empty
    * epoch-0 index, centroids passed in memory — no read-back) and
    * [[ivfIndexAppend]]: assign `batch` to the pinned centroids
    * ([[Similarity.ivfAssigned]]), write it into the next batch's list
    * partitions, count it, commit.
    */
  private def ivfWriteBatch(spark: SparkSession, path: String, man: Manifest,
      meta: IvfMeta, cents: Seq[(Long, Array[Double])], batch: DataFrame,
      idCol: String, vecCol: String): IvfMeta = {
    val tok = tokenOf(man.epoch + 1)
    val added = writeListBatch(spark, path, "lists", tok,
      Similarity.ivfAssigned(batch, idCol, vecCol, cents))
    val updated = meta.copy(rows = meta.rows + added)
    commit(spark, path,
      Manifest(KindIvf, man.epoch + 1, man.batches :+ tok, tok, ivfFields(updated)))
    updated
  }

  /** Write `rows` (carrying the assigned IVF `list`) into batch `tok` of
    * the list-partitioned store `root` and return the stored row count.
    * Partition values are [[listPart]] strings, and the frame is
    * pre-shuffled by them: without it every writer task fans out across
    * every list dir (tasks × lists small files — 32k at 1 M
    * vectors/1024 lists); clustered, each dir gets ~one file.
    */
  private def writeListBatch(spark: SparkSession, path: String, root: String,
      tok: String, rows: DataFrame): Long = {
    SchemaCatalog.write(
      rows.withColumn("listp", listPart(col("list"))).drop("list").repartition(col("listp")),
      s"$path/$root", s"batch=$tok", Seq("listp"))
    readBatches(spark, s"$path/$root", Seq(tok)).count()
  }

  /** Approximate top-k against a persisted IVF index. The probed-list
    * choice is [[Similarity.ivfQueryProbes]] and the probe join and
    * cosine [[Similarity.ivfProbeJoin]] — the exact helpers the
    * in-flight operator runs — and the batch's probed-list union
    * becomes a PARTITION FILTER on `lists/`, so the scan reads only
    * the probed lists' bytes (~nProbe/lists of the corpus for a
    * focused batch). Result frame is identical to the in-flight
    * operator over the same centroids (AnnIndexSpec pins it).
    */
  def ivfTopKIndexed(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 0,
      queriesCount: Long = -1L,
      probeBroadcastMax: Long = Similarity.ProbeBroadcastMaxBytes
  ): DataFrame = {
    val man = readManifest(spark, path, KindIvf)
    val meta = ivfMetaOf(man)
    requireFresh(meta.n, meta.rows, path)
    val probeCount = if (nProbe > 0) nProbe else meta.nProbe
    val centroids = broadcast(SchemaCatalog.read(spark, s"$path/centroids"))
    val probes = Similarity.ivfQueryProbes(queries, idCol, vecCol, centroids, probeCount)
      .withColumn("listp", listPart(col("list")))
    val assigned = readBatches(spark, s"$path/lists", man.batches)
      .filter(col("listp").isin(probedLists(probes): _*))
      .select("neighbor_id", "cv", "listp")
    Similarity.rankedTopK(
      Similarity.ivfProbeJoin(assigned, probes.drop("list"), "listp", queries, probeCount,
        meta.dim, queriesCount, probeBroadcastMax)
        .select("query_id", "neighbor_id", "cos"),
      "cos", scoreDesc = true, k)
  }

  /** The batch's probed-list union, for the partition filter — bounded
    * by the list count (IVF contract: centroids are driver-small), so
    * collecting it is O(lists), never O(corpus).
    */
  private def probedLists(probes: DataFrame): Seq[String] =
    probes.select("listp").distinct().collect().map(_.getString(0)).sorted.toSeq

  // ------------------------------------------------------------------
  // IVF-PQ
  // ------------------------------------------------------------------

  /** IVF-PQ index shape descriptor. */
  final case class IvfPqMeta(lists: Int, nProbe: Int, m: Int, ks: Int,
      dim: Int, n: Long, rows: Long)

  private val KindIvfPq = "ivfpq"

  /** Build and persist the IVF-PQ index for `corpus` under `path` —
    * the compressed completion of the index trio, and the layout that
    * actually matters at 10⁹ vectors: `codes/` holds `m` small codes
    * per vector instead of the raw floats (64 float dims → 8 codes, a
    * 32× cut — the full-precision vectors never need to be hot), and
    * is PARTITIONED BY the assigned IVF list like [[ivfIndexWrite]]'s
    * `lists/`, so a probe reads ~nProbe/lists of the already-compressed
    * bytes. `centroids/` and `codebooks/` (m × ks codewords) persist
    * the pinned geometry. Derivations are the in-flight
    * [[Similarity.ivfPqTopK]]'s own helpers (adaptive lists/probes,
    * codebooks trained by default, `trainBooks = false` for the
    * hash-seeded stand-in, `trainedCodebooks` to persist injected
    * books), so the indexed probe is answer-identical over the same
    * geometry (AnnIndexSpec pins it). Any previous index at `path` is
    * removed first. Returns the persisted meta.
    */
  def ivfPqIndexWrite(
      corpus0: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numCentroids: Int = 0,
      nProbe: Int = 0,
      m: Int = 8,
      ks: Int = 256,
      dim: Int = 64,
      n: Long = -1L,
      trainedCodebooks: Option[Array[Array[Array[Double]]]] = None,
      // train-by-default like the in-flight tier (r20, see
      // Similarity.pqTopK): a persisted index is the one place the
      // one-time training cost is MOST amortized — every probe batch
      // after the build reads the trained codes
      trainBooks: Boolean = true
  ): IvfPqMeta = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val spark = corpus0.sparkSession
    import spark.implicits._
    deleteDir(spark, path)
    // adaptive shape from the PRE-filter frame — matches the oracle's
    // count(*) and the in-flight ivfPqTopK (r18 advice); seeds from the
    // L2-normalized side like the in-flight tier
    val nn = Dedup.corpusCount(corpus0, n, "ivfPqIndexWrite")
    val (lists, probeCount, cents) = Similarity.ivfGeometry(
      Similarity.normalizedSide(corpus0, idCol, vecCol), idCol, vecCol,
      numCentroids, nProbe, None, nn)
    SchemaCatalog.write(cents.toDF("list", "centv").repartition(1), s"$path/centroids")
    val codebooks = Similarity.pqCodebooks(corpus0, idCol, vecCol, m, ks, dim,
      trainedCodebooks, trainBooks)
    // effective ks: a corpus smaller than ks yields fewer seed rows —
    // persist (and record in meta) the codebook actually built (r18
    // review catch: the 0-until-ks loop indexed past a short codebook)
    val ksEff = codebooks.headOption.map(_.length).getOrElse(ks)
    SchemaCatalog.write((for (mi <- 0 until m; ci <- 0 until ksEff)
      yield (mi, ci + 1L, codebooks(mi)(ci).toSeq))
      .toDF("mi", "code", "cw").repartition(1), s"$path/codebooks")
    val empty = IvfPqMeta(lists, probeCount, m, ksEff, dim, nn, 0L)
    ivfPqWriteBatch(spark, path, Manifest(KindIvfPq, 0, Nil, "", ivfPqFields(empty)), empty,
      cents, codebooks, corpus0, idCol, vecCol)
  }

  private def ivfPqFields(meta: IvfPqMeta): Seq[(String, Long)] =
    Seq("lists" -> meta.lists.toLong, "nProbe" -> meta.nProbe.toLong,
      "m" -> meta.m.toLong, "ks" -> meta.ks.toLong, "dim" -> meta.dim.toLong,
      "n" -> meta.n, "rows" -> meta.rows)

  private def ivfPqMetaOf(man: Manifest): IvfPqMeta = {
    val mm = man.fields
    IvfPqMeta(mm("lists").toInt, mm("nProbe").toInt, mm("m").toInt,
      mm("ks").toInt, mm("dim").toInt, mm("n"), mm("rows"))
  }

  /** Load the persisted IVF-PQ meta (fails fast on a non-IVF-PQ index). */
  def ivfPqMeta(spark: SparkSession, path: String): IvfPqMeta =
    ivfPqMetaOf(readManifest(spark, path, KindIvfPq))

  /** Append a batch to a persisted IVF-PQ index: assign + encode ONLY
    * the batch against the pinned centroids and codebooks into a new
    * batch's list partitions; the manifest commit is last (torn append
    * ⇒ previous index). Batch ids must be disjoint from the stored
    * ids; probes fail fast when the corpus outgrows the build's `n` by
    * 10× (rebuild/retrain instead).
    */
  def ivfPqIndexAppend(
      spark: SparkSession,
      path: String,
      batch0: DataFrame,
      idCol: String,
      vecCol: String
  ): IvfPqMeta = {
    val man = readManifest(spark, path, KindIvfPq)
    val meta = ivfPqMetaOf(man)
    ivfPqWriteBatch(spark, path, man, meta, ivfCentroids(spark, path),
      readCodebooks(spark, path, meta), batch0, idCol, vecCol)
  }

  /** The one mutation body behind [[ivfPqIndexWrite]] (from the empty
    * epoch-0 index, geometry passed in memory — no read-back) and
    * [[ivfPqIndexAppend]]: L2-normalize `batch0`, encode list + m codes
    * in one row-local pass ([[Similarity.pqEncoded]]), write it into
    * the next batch's list partitions, count it, commit.
    */
  private def ivfPqWriteBatch(spark: SparkSession, path: String, man: Manifest,
      meta: IvfPqMeta, cents: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]], batch0: DataFrame,
      idCol: String, vecCol: String): IvfPqMeta = {
    val encoded = Similarity.pqEncoded(Similarity.normalizedSide(batch0, idCol, vecCol),
      idCol, vecCol, meta.dim / meta.m, codebooks, Some(cents))
    val tok = tokenOf(man.epoch + 1)
    val added = writeListBatch(spark, path, "codes", tok, encoded)
    val updated = meta.copy(rows = meta.rows + added)
    commit(spark, path,
      Manifest(KindIvfPq, man.epoch + 1, man.batches :+ tok, tok, ivfPqFields(updated)))
    updated
  }

  /** The persisted codebooks in driver form — m × ks × (dim/m)
    * doubles, bounded by the PQ contract (codebooks are tiny).
    */
  def ivfPqCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    readCodebooks(spark, path, ivfPqMeta(spark, path))

  private def readCodebooks(spark: SparkSession, path: String,
      meta: IvfPqMeta): Array[Array[Array[Double]]] = {
    val rows = SchemaCatalog.read(spark, s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    Array.tabulate(meta.m)(mi =>
      rows.filter(_._1 == mi).sortBy(_._2).map(_._3))
  }

  /** Approximate top-k against a persisted IVF-PQ index: probed-list
    * partition filter on the COMPRESSED `codes/` (the scan reads
    * ~nProbe/lists of m-codes-per-vector bytes — raw vectors are never
    * touched), query-side ADC distance tables from the pinned
    * codebooks, per-pair cost `m` lookups ([[Similarity.adcTopK]], the
    * in-flight tier's own scorer). Answer-identical to the in-flight
    * [[Similarity.ivfPqTopK]] over the same geometry (AnnIndexSpec
    * pins it).
    */
  def ivfPqTopKIndexed(
      spark: SparkSession,
      path: String,
      queries0: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 0,
      queriesCount: Long = -1L,
      probeBroadcastMax: Long = Similarity.ProbeBroadcastMaxBytes,
      // the FAISS-style refine layer: ADC ranks a rerank×k shortlist,
      // then exact cosine over `rerankFrom` (the COLD raw-vector
      // table — the index deliberately stores only codes; the re-rank
      // reads raw vectors for the shortlist only, point-lookup-sized).
      // rerank < 0 ⇒ the derived refine is ON by default
      // ([[Similarity.defaultRerank]] — the r19 family contract: the
      // pure-ADC default measurably shipped near-noise), which makes
      // `rerankFrom` REQUIRED at the default entry point: fail loud
      // rather than silently return unrefined neighbors. Pass
      // rerank = 0 to opt into the pure-ADC tier explicitly.
      rerank: Int = -1,
      rerankFrom: Option[DataFrame] = None
  ): DataFrame = {
    require(rerank == 0 || rerankFrom.nonEmpty,
      "rerank needs rerankFrom: the IVF-PQ index stores codes only — " +
        "pass the raw-vector table the shortlist rehydrates from " +
        "(or set rerank = 0 explicitly for the pure-ADC tier)")
    val man = readManifest(spark, path, KindIvfPq)
    val meta = ivfPqMetaOf(man)
    requireFresh(meta.n, meta.rows, path)
    val queries = Similarity.normalizedSide(queries0, idCol, vecCol)
    val probeCount = if (nProbe > 0) nProbe else meta.nProbe
    val codebooks = readCodebooks(spark, path, meta)
    val centroids = broadcast(SchemaCatalog.read(spark, s"$path/centroids"))
    val probes = Similarity.pqQueryProbes(queries, idCol, vecCol, centroids, probeCount)
      .withColumn("listp", listPart(col("list")))
    val codes = readBatches(spark, s"$path/codes", man.batches)
      .filter(col("listp").isin(probedLists(probes): _*))
      .select("neighbor_id", "listp" +: (0 until meta.m).map(mi => s"code_$mi"): _*)
    // probe rows carry the m distance tables (~m*ks*8 B each), so the
    // broadcast affords fewer queries per byte than the raw-IVF probe;
    // unhinted beyond the cap (AQE shuffle-hash vs spillable sort-merge)
    val rowBytes = probeCount.toLong * (meta.m.toLong * meta.ks * 8L + 64L)
    val maxQ = probeBroadcastMax / math.max(1L, rowBytes)
    val bcast = Similarity.boundedCount(queries, maxQ, queriesCount) <= maxQ
    Similarity.adcTopK(queries, idCol, vecCol, meta.dim / meta.m, codebooks, k, rerank,
      Similarity.normalizedSide(rerankFrom.get, idCol, vecCol)) { dt =>
      val probeSide = probes.drop("list").join(dt, Seq("query_id"))
      codes.join(if (bcast) broadcast(probeSide) else probeSide, Seq("listp"))
        .filter(col("query_id") =!= col("neighbor_id"))
    }
  }

  // ------------------------------------------------------------------
  // manifest plumbing
  // ------------------------------------------------------------------

  /** One committed snapshot of an index: the complete batch-directory
    * set a reader may touch, which hot-census token applies (LSH), and
    * the shape fields. Exactly one manifest file per epoch under
    * `meta/`; readers take the highest epoch. The manifest file is the
    * COMMIT — every mutation writes its data first and the manifest
    * last, via create-temp-then-atomic-rename.
    */
  private final case class Manifest(kind: String, epoch: Int,
      batches: Seq[String], hotTok: String, fields: Map[String, Long])

  private object Manifest {
    def apply(kind: String, epoch: Int, batches: Seq[String], hotTok: String,
        fields: Seq[(String, Long)]): Manifest =
      new Manifest(kind, epoch, batches, hotTok, fields.toMap)
  }

  /** Batch/census token for the mutation that commits epoch `e` —
    * deterministic (no UUIDs: staging rebuilds must produce identical
    * plans run-to-run for planhash stability), unique per epoch, and a
    * torn earlier attempt at the same epoch is simply overwritten.
    */
  private def tokenOf(epoch: Int): String = f"c$epoch%05d"

  /** Numeric epoch of a `commit-cNNNNN` manifest filename. Selection of
    * the newest manifest parses this NUMBER — a lexicographic max over
    * the padded names would sort `commit-c100000` BELOW `commit-c99999`
    * once an index outgrows the 5-digit padding (~100k mutations),
    * resolving a stale manifest and letting [[vacuum]] delete the
    * newest committed batches as orphans (r19 advice).
    */
  private def epochOfCommit(name: String): Long =
    name.stripPrefix("commit-c").toLong

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def deleteDir(spark: SparkSession, path: String): Unit =
    fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)

  /** Read the union of the named batch directories under `root`. The
    * explicit per-batch paths (with `basePath`) are the crash-safety
    * read discipline: orphan directories from torn mutations are never
    * listed, so they are invisible however long they linger. Every
    * store write records its schema in [[SchemaCatalog]], so probes and
    * the post-write counts replay it instead of inferring it.
    */
  private def readBatches(spark: SparkSession, root: String,
      batches: Seq[String]): DataFrame =
    SchemaCatalog.read(spark, root, batches.map(b => s"batch=$b")).drop("batch")

  private def commit(spark: SparkSession, path: String, man: Manifest): Unit = {
    val fs = fsOf(spark, path)
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/meta")
    fs.mkdirs(metaDir)
    val body = (
      Seq(s"kind=${man.kind}", s"epoch=${man.epoch}",
        s"batches=${man.batches.mkString(",")}", s"hotTok=${man.hotTok}") ++
        man.fields.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      ).mkString("\n")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/meta/.tmp-${tokenOf(man.epoch)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dst = new org.apache.hadoop.fs.Path(s"$path/meta/commit-${tokenOf(man.epoch)}")
    // NO clobber: a commit file for this epoch can only exist when the
    // epoch already committed (the rename is the last step of a mutation),
    // i.e. a second writer raced this one from the same base manifest, or
    // a retry re-ran an already-committed mutation. Either way last-wins
    // would silently drop the other mutation's batches — fail loud instead
    // (the single-writer-per-index contract in the class doc). A bare
    // FileSystem.rename is NOT that check on the local filesystem:
    // RawLocalFileSystem delegates to POSIX rename(2), which silently
    // REPLACES an existing destination and returns true (r20 ADVICE) —
    // only HDFS refuses. The exists() probe makes the refusal real on
    // every filesystem; under the single-writer contract there is no
    // racing creator between the probe and the rename, so the gap is
    // not a correctness hole — the probe is the collision detector the
    // contract promises, not a lock.
    if (fs.exists(dst)) {
      fs.delete(tmp, false) // refusal path: don't leave the temp behind
      throw new IllegalArgumentException(
        s"manifest commit refused: a commit for epoch ${man.epoch} " +
          s"already exists at $dst. Mutations are " +
          "single-writer-per-index: this is either a concurrent mutator " +
          "racing from the same base epoch or a retry of a mutation that " +
          "already committed; re-read the manifest before retrying")
    }
    // distinct failure: the rename itself failed (IO error, permissions,
    // tmp missing) — NOT an epoch collision; don't blame the contract
    require(fs.rename(tmp, dst),
      s"manifest commit failed: rename $tmp -> $dst returned false " +
        "(filesystem error — not an already-committed epoch)")
  }

  /** Test seam for the no-clobber commit contract: re-run the commit
    * step of the newest ALREADY-COMMITTED epoch — the
    * retry-of-a-committed-mutation / racing-second-writer scenario the
    * class doc forbids. Must fail loud on every filesystem (the local
    * FS would otherwise silently last-wins through POSIX rename —
    * r20 ADVICE); asserted by AnnIndexSpec.
    */
  private[graft] def recommitNewestForTest(spark: SparkSession, path: String,
      kind: String = KindLsh): Unit =
    commit(spark, path, readManifest(spark, path, kind))

  private def readManifest(spark: SparkSession, path: String,
      expectKind: String): Manifest = {
    val fs = fsOf(spark, path)
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/meta")
    val commits =
      if (!fs.exists(metaDir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(metaDir).filter(_.getPath.getName.startsWith("commit-"))
    require(commits.nonEmpty, s"no ANN index committed at $path")
    val latest = commits.maxBy(st => epochOfCommit(st.getPath.getName))
    val in = fs.open(latest.getPath)
    val body = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var r = in.read(buf)
      while (r >= 0) { bytes.write(buf, 0, r); r = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
    val kv = body.split("\n").iterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    require(kv.get("kind").contains(expectKind),
      s"ANN index at $path is kind ${kv.getOrElse("kind", "?")}, expected $expectKind")
    Manifest(kv("kind"), kv("epoch").toInt,
      kv("batches").split(",").toSeq.filter(_.nonEmpty), kv("hotTok"),
      (kv - "kind" - "epoch" - "batches" - "hotTok").map { case (k, v) => k -> v.toLong })
  }

  /** Probe-time staleness gate: the derived shape (signature width /
    * list count) assumed occupancy at the build-time `n`; once the
    * stored rows outgrow it by a decade the index silently degrades
    * (over-full buckets/lists) — fail fast and demand a rebuild
    * instead (the doc contract at [[LshMeta]], made code — r18
    * verdict).
    */
  private def requireFresh(n: Long, rows: Long, path: String): Unit =
    require(rows <= 10L * math.max(1L, n),
      s"ANN index at $path is stale: rows=$rows outgrew the build-time " +
        s"shape n=$n by more than 10x — rebuild the index (the derived " +
        "shape assumed occupancy at n)")

  /** Delete every batch directory the CURRENT manifest no longer
    * references (orphans from torn mutations, generations superseded by
    * [[lshIndexCompact]]). Safe only when no concurrent reader is mid-
    * probe on an older manifest — the same contract as any snapshot
    * store's vacuum. Returns the number of directories removed.
    */
  def vacuum(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/meta")
    require(fs.exists(metaDir), s"no ANN index committed at $path")
    val commits = fs.listStatus(metaDir).filter(_.getPath.getName.startsWith("commit-"))
    require(commits.nonEmpty, s"no ANN index committed at $path")
    val latest = commits.maxBy(st => epochOfCommit(st.getPath.getName)).getPath.getName
    // re-read through the kind recorded in the newest manifest
    val kind = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/meta/$latest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .collectFirst { case l if l.startsWith("kind=") => l.drop(5) }.get
      finally in.close()
    }
    val man = readManifest(spark, path, kind)
    val live = man.batches.toSet
    var removed = 0
    for (sub <- Seq("sigs", "vectors", "lists", "codes", "hot")) {
      val d = new org.apache.hadoop.fs.Path(s"$path/$sub")
      if (fs.exists(d)) fs.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        val keep =
          if (sub == "hot") name == man.hotTok
          else name.startsWith("batch=") && live.contains(name.stripPrefix("batch="))
        if (!keep) { fs.delete(st.getPath, true); removed += 1 }
      }
    }
    // superseded manifests go last — the data they referenced is gone
    commits.map(_.getPath).filter(_.getName != latest)
      .foreach(p => fs.delete(p, false))
    removed
  }
}
