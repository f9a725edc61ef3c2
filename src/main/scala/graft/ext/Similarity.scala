package graft.ext

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column. Three tiers:
  *
  *   - [[bruteTopK]]: exact cosine top-k — broadcast the (small) query
  *     set against the corpus; one narrow shuffle for the per-query
  *     rank. The correctness baseline at any scale where queries are
  *     few; cost O(|corpus| x |queries|) but fully partition-parallel
  *     with no corpus shuffle.
  *   - [[lshTopK]]: random-hyperplane LSH — T independent tables of
  *     b sign-bits; candidates = same bucket in ANY table, then exact
  *     cosine re-rank. Corpus-side cost: T bucket keys per vector
  *     (row-local), candidate join shuffles on bucket keys only.
  *   - [[ivfTopK]]: inverted-file — assign vectors to their nearest
  *     centroid (broadcast centroids), probe the nProbe nearest lists
  *     per query. The classic 100 TB layout: partition/bucket the
  *     corpus by list id so a query touches nProbe partitions.
  *
  * Hyperplanes/centroid choice are deterministic (fixed seed / fixed-K
  * hash-order pick) so results are reproducible run-to-run.
  */
object Similarity {

  /** The shared re-rank tail of every ANN tier: per-query top-k under
    * (score, neighbor_id) via the native [[graft.plans.TopKPerKey]]
    * operator, then ranks 1..k assigned by a window over the ≤k
    * survivors. The window spelling alone plans as WindowExec — full
    * sort + buffer of EVERY candidate per query (the whole corpus per
    * query in the brute tier); the native cut holds one k-row heap per
    * query instead, with a map-side partial pass before the exchange,
    * and the rank window then reuses the final pass's clustered
    * distribution (same key), so the whole tail is ONE exchange and a
    * sort over k-row groups. Both orders include the neighbor-id
    * tiebreaker, so the cut set and the ranks are total-order exact —
    * identical output to the window-only spelling.
    */
  private[ext] def rankedTopK(df: DataFrame, scoreCol: String, scoreDesc: Boolean, k: Int): DataFrame = {
    val cut = graft.plans.TopKPerKey(
      df, Seq("query_id"), Seq((scoreCol, scoreDesc), ("neighbor_id", false)), k)
    val score = if (scoreDesc) col(scoreCol).desc else col(scoreCol).asc
    val w = Window.partitionBy(col("query_id")).orderBy(score, col("neighbor_id").asc)
    cut.withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id", scoreCol)
  }

  /** The two sides of every raw-vector ANN tier: (neighbor_id, cv) and
    * (query_id, qv). Zero-norm vectors are excluded on BOTH sides — the
    * ANN family contract: a zero vector has no direction, its cosine
    * is 0/0 = NaN (which sorts LARGEST under descending order, ranking
    * first while carrying no similarity signal) and under ANSI a
    * runtime divide-by-zero. The corpus side is spread over the default
    * parallelism: a small parquet corpus arrives as one split, and a
    * broadcast join's parallelism follows its stream side.
    */
  private[ext] def corpusSide(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .filter(VectorOps.norm(col("cv")) > 0)

  private[ext] def querySide(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(VectorOps.norm(col("qv")) > 0)

  /** Exact top-k neighbors of each query vector, excluding self.
    * Ordering ties broken by rounded cosine then neighbor id — fully
    * deterministic.
    */
  def bruteTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    rankedTopK(
      corpusSide(corpus, idCol, vecCol)
        .join(broadcast(querySide(queries, idCol, vecCol)), col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4)),
      "cos", scoreDesc = true, k)
  }

  /** Hard-negative mining for retriever/embedding training: each
    * query's top-k most-similar corpus items whose cosine is BELOW
    * `tauPos` — similar enough to be informative negatives, but
    * excluded above the positive/near-dup threshold (where they are
    * probably unlabeled positives; Karpukhin et al. 2020's BM25-hard-
    * negative recipe generalized to dense scores). Same broadcast-
    * query/stream-corpus shape as [[bruteTopK]]: the cut is a
    * row-local filter BEFORE the per-query rank window, so cost is
    * one corpus pass per query batch, no extra shuffle. For 10^9-item
    * corpora substitute the LSH/IVF candidate generation upstream and
    * apply the same τ-cut + rank.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tauPos: Double
  ): DataFrame = {
    rankedTopK(
      corpusSide(corpus, idCol, vecCol)
        .join(broadcast(querySide(queries, idCol, vecCol)), col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
        .filter(col("cos") < tauPos),
      "cos", scoreDesc = true, k)
  }

  /** Deterministic random hyperplanes: `tables` tables x `bits` planes
    * x `dim` components, seeded.
    */
  private[graft] def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long = 42L): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** Prefix-stable hyperplanes: plane (t, bit) is seeded independently of
    * `bits`, so the plane set for width b is exactly the first b planes
    * of any wider setting. Required by the corpus-adaptive LSH
    * ([[Dedup.embeddingCosinePairsLsh]] with derived bits): its DuckDB
    * oracle embeds ONE max-width plane table and selects the
    * runtime-derived prefix, so the same SQL is bit-identical to Spark
    * at every corpus size. (The sequential [[hyperplanes]] stream lacks
    * this property — table t's planes shift when `bits` changes.)
    */
  private[graft] def hyperplanesPrefix(tables: Int, bits: Int, dim: Int, seed: Long = 42L): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits) { (t, b) =>
      val rnd = new scala.util.Random(
        seed ^ (t.toLong * 0x9E3779B97F4A7C15L) ^ (b.toLong * 0xC2B2AE3D27D4EB4FL))
      Array.fill(dim)(rnd.nextGaussian())
    }

  /** Bucket each vector in every table via the row-local
    * [[graft.functions.HyperplaneBucketsExpr]] — all T packed sign-bit
    * keys in one fused codegen pass, then posexplode to (t, b) rows for
    * the candidate join. (Evolution: tables x bits inlined literal
    * expressions compiled for seconds in janino → planes cross-join +
    * grouped bit-sum, one corpus x (T x bits) expansion and a shuffle →
    * native expression, map-only.)
    */
  private def withBuckets(df: DataFrame, id: String, vec: String, planes: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(id), col(vec),
      posexplode(graft.functions.AnnExprs.lshBuckets(col(vec), planes)).as(Seq("t", "b")))

  /** LSH-bucketed approximate top-k: candidates share a bucket with the
    * query in at least one of the `tables` hash tables; exact cosine
    * re-rank on the candidate set. Recall grows with `tables`, bucket
    * selectivity with `bits`. Corpus buckets above `maxBucket` are
    * dropped ([[BucketCap.dropHot]]) — a bucket holding a large corpus
    * fraction is non-discriminative (stop-word semantics) and would
    * otherwise flood every matching query's candidate set; the other
    * tables keep supplying candidates.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tables: Int = 0,
      bits: Int = 0,
      seed: Long = 42L,
      dim: Int = 64,
      maxBucket: Int = 100000,
      probeDepth: Int = 0,
      probeBudget: Int = 0,
      n: Long = -1L,
      queriesCount: Long = -1L,
      probeBroadcastMax: Long = ProbeBroadcastMaxBytes
  ): DataFrame = {
    // bits <= 0 ⇒ the CORPUS-ADAPTIVE default: derived signature
    // width (occupancy ~4 at any n — the r12 fixed-width cliff), the
    // multiprobe table coupling, prefix-stable planes, and QUERY-
    // DIRECTED probing on the query side — the query also visits
    // buckets within `probeDepth` flips of its lowest-|margin| bits,
    // which holds recall as the derived width grows. Unlike the dedup
    // pair operator — whose candidate volume multiplies the CORPUS by
    // the probe count, forcing a tight budget — top-k probing
    // multiplies only the broadcast query side, so the default shape
    // is the flat deep one ([[TopKProbeBudget]]:[[TopKProbeDepth]] =
    // qd:12:3, capped at `bits` inside the probe expression). Measured
    // (recordings/ann_recall_r17.jsonl, 50 queries, k=5): recall
    // 98.8 % @20 k, 98.8 % @200 k, 92.8 % @1 M vectors vs the dedup
    // coupling's 36.8/42.8/24.4 %. Explicit `bits > 0` pins the
    // historical exact-collision shape (sequential-stream planes, no
    // probing).
    val adaptive = bits <= 0
    val nn = if (adaptive) Dedup.corpusCount(corpus, n, "lshTopK") else -1L
    val b = if (adaptive) Dedup.adaptiveLshBits(nn) else bits
    val tabs = if (tables > 0) tables else if (adaptive) Dedup.multiprobeTables(b) else 8
    val planes =
      if (adaptive) hyperplanesPrefix(tabs, b, dim, seed)
      else hyperplanes(tabs, b, dim, seed)

    // zero-norm exclusion on both sides matches the oracle's shared
    // sigs CTE filter
    val c = BucketCap.dropHot(
      withBuckets(corpusSide(corpus, idCol, vecCol), "neighbor_id", "cv", planes),
      Seq("t", "b"), maxBucket)
    val qBase = querySide(queries, idCol, vecCol)
    val (budget, depth) =
      if (!adaptive) (TopKProbeBudget, TopKProbeDepth) // unused: no probing
      else lshProbeShape(b, nn, qBase, queriesCount, probeBudget, probeDepth)
    def probeKeys(withQv: Boolean) = {
      val cols0 = if (withQv) Seq(col("query_id"), col("qv")) else Seq(col("query_id"))
      if (adaptive)
        qBase.select(cols0 :+
          posexplode(graft.functions.AnnExprs.lshProbeKeys(col("qv"), planes, budget, depth))
            .as(Seq("t", "bs")): _*)
          .select(cols0 ++ Seq(col("t"), explode(col("bs")).as("b")): _*)
      else withBuckets(qBase, "query_id", "qv", planes)
        .select(cols0 ++ Seq(col("t"), col("b")): _*)
    }
    // The probe side multiplies each query by tables × probe keys —
    // ~9.6k rows per query for the derived 32t qd:12:3 shape — so a
    // large query batch OVERFLOWS a broadcast (measured: torrent
    // broadcast death at 2 000 queries × 1 M corpus). Past the cap the
    // probe frame goes SLIM (no qv — a vector-carrying shuffle-hash
    // build side measured an unspillable hash-map OOM at the same
    // point), the candidate join is left unhinted (AQE picks
    // shuffle-hash while the slim build fits, spillable sort-merge
    // beyond), and the surviving distinct pairs rehydrate both vector
    // sides. Pair output is identical across tiers (AnnIndexSpec pins
    // it).
    val keys = if (adaptive) probeKeysPerTable(b, budget, depth) else 1L
    val maxQ = probeBroadcastMax / math.max(1L, tabs * keys * (40L + 4L * dim))
    val qn = boundedCount(qBase, maxQ, queriesCount)

    // Cosine is computed MAP-SIDE, before the cross-table dedup — the
    // distinct then shuffles (query_id, neighbor_id, cos) rows (~50 B)
    // instead of rows carrying both full vectors (~1.1 kB); cosine is
    // deterministic per pair, so deduping after scoring is
    // result-identical and the re-rank sees the same set.
    val scored =
      if (qn <= maxQ)
        c.join(broadcast(probeKeys(withQv = true)), Seq("t", "b"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
          .select("query_id", "neighbor_id", "cos").distinct()
      else {
        // slim tier: candidates are (query_id, neighbor_id) only; the
        // distinct cuts the probe-fold expansion BEFORE any vector
        // bytes move, then one shuffle-hash rehydrate per side
        // (cosine after the distinct is result-identical — it is
        // deterministic per pair)
        val cand = c.select("t", "b", "neighbor_id")
          .join(probeKeys(withQv = false), Seq("t", "b"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id").distinct()
        val cvecs = corpus
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
          .filter(VectorOps.norm(col("cv")) > 0)
        // the rehydrate broadcast has its OWN (much larger) bound than
        // the probe-fold's, so it needs its OWN decision count
        // ([[boundedCount]]; r18 review catch)
        val maxQv = probeBroadcastMax / (40L + 4L * dim)
        val qvecs =
          if (boundedCount(qBase, maxQv, queriesCount) <= maxQv) broadcast(qBase)
          else qBase.hint("shuffle_hash")
        cand.join(cvecs.hint("shuffle_hash"), Seq("neighbor_id"))
          .join(qvecs, Seq("query_id"))
          .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
          .select("query_id", "neighbor_id", "cos")
      }
    rankedTopK(scored, "cos", scoreDesc = true, k)
  }

  /** Estimated probe-side bytes above which [[lshTopK]] /
    * [[AnnIndex.lshTopKIndexed]] / [[ivfTopK]] switch the candidate
    * join from broadcast-hash to shuffle-hash. The probe explosion is
    * queries × tables × keys rows; past ~256 MB the torrent broadcast
    * is the thing that dies first (measured at 1 M corpus × 2 000
    * queries under the 32t qd:12:3 shape, ~5.7 GB estimated — the
    * shuffle-hash tier runs it fine).
    */
  val ProbeBroadcastMaxBytes: Long = 256L << 20

  /** Probe keys [[graft.functions.AnnExprs.lshProbeKeys]] emits per
    * table: the exact key plus every ≤`depth`-subset of the
    * min(budget, bits) lowest-|margin| bits — Σ_{i=0..depth} C(m, i).
    */
  private[graft] def probeKeysPerTable(bits: Int, budget: Int, depth: Int): Long = {
    val m = math.min(bits, budget)
    def choose(n: Int, k: Int): Long =
      (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
    (0 to math.min(depth, m)).map(choose(m, _)).sum
  }

  /** Flat query-side probe shape for the adaptive [[lshTopK]]: budget
    * 12 (capped at the derived signature width inside the probe
    * expression), depth 3. The dedup pair operator's budget coupling
    * ([[Dedup.multiprobeBudget]]) must stay tight because every probe
    * key multiplies a CORPUS-sized join side; the top-k query side
    * multiplies only the query batch, so the deep shape costs
    * probes × queries — not probes × corpus — and buys the measured
    * recall jump in the scaladoc above. (The probe frame broadcasts
    * below [[ProbeBroadcastMaxBytes]] and goes slim + shuffled beyond
    * it — see lshTopK's tier note.)
    */
  val TopKProbeBudget = 12
  val TopKProbeDepth = 3

  /** The flat deep shape is allowed while the probe fold
    * (queries × keysPerTable, per table) stays within this factor of
    * the corpus signature fold (corpus rows, per table) — i.e. while
    * the probe side costs no more than a few corpus passes. Past it
    * the query set is corpus-like (knn-graph, bitext mining,
    * dedup-against-self) and the shape switches to the dedup coupling,
    * whose keys-per-table is ~26 instead of ~300: with default args
    * the 10⁹-row fold r18 measured at 100 k×100 k is structurally
    * impossible — worst-case probe rows are FlatProbeCorpusFactor ×
    * corpus sig rows.
    */
  val FlatProbeCorpusFactor = 8L

  /** The (budget, depth) choice for the adaptive [[lshTopK]] given the
    * derived signature width and both side sizes — exposed for the
    * spec to pin the switch.
    *
    * STATED QUALITY of the coupled shape (the r19 verdict asked this
    * to be surfaced, not silent): auto-coupling exists to make the
    * corpus-as-queries fold STRUCTURALLY bounded (worst-case probe
    * rows = [[FlatProbeCorpusFactor]] × corpus signature rows — the
    * flat shape built ~10⁹ rows at 100 k×100 k and died), and it pays
    * for that bound in recall: a 200 k×200 k knn-graph at default args
    * measured 54 % recall@5 (recordings/ann_recall_r19.jsonl) vs the
    * flat shape's 98.8 % on small query batches. When a knn-graph
    * needs deeper recall, don't widen the probe shape — route the
    * corpus-as-queries side through a persisted index in bounded
    * batches ([[graft.ext.Bitext.marginMineIndexed]]'s composition) or
    * raise `probeBudget`/`probeDepth` explicitly with the fold bound
    * in view; DedupSimilaritySpec pins both the switch boundary and a
    * fixture recall floor so the coupled tier can't silently degrade
    * further.
    */
  private[graft] def lshAutoShape(bits: Int, qn: Long, n: Long): (Int, Int) = {
    val keysFlat = probeKeysPerTable(bits, TopKProbeBudget, TopKProbeDepth)
    if (qn * keysFlat <= FlatProbeCorpusFactor * n) (TopKProbeBudget, TopKProbeDepth)
    else (Dedup.multiprobeBudget(bits), Dedup.multiprobeDepth(bits))
  }

  /** The query-directed (budget, depth) of an adaptive LSH probe —
    * shared by [[lshTopK]] and [[AnnIndex.lshTopKIndexed]] so the two
    * paths cannot pick different shapes. Explicit `probeBudget` /
    * `probeDepth` win; otherwise the shape sees BOTH sizes
    * ([[lshAutoShape]]): the flat deep default is a RETRIEVAL-batch
    * assumption, and with queries ≈ corpus — the knn-graph / bitext
    * case — it built ~10⁹ probe rows at 100 k/side and died
    * (recordings/bitext_r18.jsonl). `n` is the RAW corpus count
    * (zero-norm rows included) on both paths.
    */
  private[ext] def lshProbeShape(bits: Int, n: Long, qBase: DataFrame,
      queriesCount: Long, probeBudget: Int, probeDepth: Int): (Int, Int) =
    if (probeBudget > 0 || probeDepth > 0)
      (if (probeBudget > 0) probeBudget else TopKProbeBudget,
       if (probeDepth > 0) probeDepth else TopKProbeDepth)
    else {
      val keysFlat = probeKeysPerTable(bits, TopKProbeBudget, TopKProbeDepth)
      val maxFlatQ = FlatProbeCorpusFactor * n / math.max(1L, keysFlat)
      lshAutoShape(bits, boundedCount(qBase, maxFlatQ, queriesCount), n)
    }

  /** Row count of `df` truncated at `max + 1` — every ANN tier switch
    * needs only "more than `max` rows or not", so a LIMITed count
    * bounds the decision cost even on a huge query set (no hidden
    * full-scan count). A caller that knows the size passes it as
    * `known >= 0` and skips the job. Each bound needs its OWN count: a
    * count truncated at one bound passes the test of any larger one
    * for every set size.
    */
  private[ext] def boundedCount(df: DataFrame, max: Long, known: Long): Long =
    if (known >= 0L) known
    else df.limit(math.min(max + 1L, Int.MaxValue.toLong).toInt).count()

  /** IVF list count derived from the corpus: the smallest POWER OF TWO
    * `L` with L² >= n (the classic nlist ≈ √n rule snapped to a power
    * of two so the oracle derives the same L with integer shifts),
    * clamped to [floor, cap]. A fixed list count was the r15 verdict's
    * scale gap: 20 lists at 200 k vectors is 10 k vectors per list, and
    * probing 3 scans 15 % of the corpus with whatever recall the seeds
    * happen to allow — unmeasured. Expected list size under the
    * derived L is between √n/2 and √n at any corpus size.
    */
  def adaptiveIvfLists(n: Long, floor: Int = 16, cap: Int = 65536): Int = {
    var l = floor
    while (l < cap && l.toLong * l < n) l <<= 1
    l
  }

  /** Probed-list count coupled to the derived list count: an eighth of
    * the lists, never fewer than 3 — the scan fraction stays ~1/8 as
    * the corpus grows (vs the fixed 3-of-20 = 15 % whose absolute scan
    * volume exploded linearly), and recall is measured, not assumed
    * (recordings/ann_recall_r16/17/19.jsonl; floors in
    * DedupSimilaritySpec). This is a COST-shaped
    * default; when a recall target matters, calibrate with
    * [[ivfProbesForRecall]] instead — the fixed fraction's measured
    * ceiling (65.6 % at 200 k, 78.4 % at 1 M on the i.i.d. fixture)
    * binds every downstream IVF-PQ rerank.
    */
  def adaptiveIvfProbes(lists: Int): Int = math.max(3, lists >> 3)

  /** Deterministic salted-hash query sample for recall calibration —
    * the first `sampleQueries` positive-norm rows in
    * `md5(id || "#q")` order (the salt decorrelates the sample from
    * the md5-ordered centroid seed pick, which would otherwise make
    * every sampled query A centroid — recall measured on centroids
    * only). Shared by [[ivfProbesForRecall]] and its oracle cell so
    * the replay sees the identical sample.
    */
  def recallSampleQueries(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      sampleQueries: Int): DataFrame = {
    val h = expr(
      s"cast(conv(substr(md5(concat(cast($idCol as string), '#q')), 1, 15), 16, 10) as bigint)")
    corpus.select(col(idCol), col(vecCol))
      .filter(VectorOps.norm(col(vecCol)) > 0)
      .withColumn("_h", h)
      .orderBy(col("_h"), col(idCol))
      .limit(sampleQueries)
      .drop("_h")
  }

  /** RECALL-TARGETED probe calibration (the r18 verdict's missing
    * knob): the smallest probe count on the doubling ladder
    * {P₀, 2P₀, 4P₀, …, cap} whose measured recall@k against a sampled
    * exact ground truth meets `recallTargetBp` (basis points, 8500 =
    * 85 %); returns (nProbe, measured recall bp on the sample). P₀ is
    * the cost-shaped [[adaptiveIvfProbes]] default; cap =
    * max(P₀, lists·maxProbeFraction). If no rung qualifies the cap is
    * returned with its measured recall — the caller sees the honest
    * ceiling instead of a silent miss.
    *
    * Cost shape: calibration is a BUILD-time pass, paid once like an
    * index build — one exact pass for the sample's ground truth
    * (sample × corpus, broadcast sample), one corpus assignment pass
    * (row-local argmin, persisted), then ONE candidate join at the
    * ladder cap that scores every rung simultaneously (r20 — the
    * sequential rung-by-rung re-shuffle was the r19 verdict's cost
    * nit; answers are identical, passes are O(1) instead of O(log L));
    * query-time cost is only the returned nProbe. Everything is
    * deterministic (salted-hash sample, integer basis-point
    * comparison), so the DuckDB oracle replays the full escalation —
    * ladder, per-rung recall, and the chosen rung — bit-for-bit.
    *
    * `sampleQueries <= 0` derives the sample size from the TARGET
    * ([[calibrationSampleSize]]): the fixed 32-query sample was a
    * ±5-6 % estimator that measurably passed on-sample and missed
    * held-out (80 % vs the 85 % target, SCALE_MEASURED r19 §2).
    */
  def ivfProbesForRecall(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      recallTargetBp: Int = 8500,
      sampleQueries: Int = -1,
      numCentroids: Int = 0,
      n: Long = -1L,
      maxProbeFraction: Double = 0.5,
      trainedCentroids: Option[Seq[(Long, Array[Double])]] = None
  ): (Int, Int) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (lists, p0, cents) = ivfGeometry(corpus, idCol, vecCol, numCentroids, 0,
      trainedCentroids, Dedup.corpusCount(corpus, n, "ivfProbesForRecall"))
    val cap = math.max(p0, (lists * maxProbeFraction).toInt)
    val sq = if (sampleQueries > 0) sampleQueries
             else calibrationSampleSize(recallTargetBp, k)
    val centroids = broadcast(cents.toDF("list", "centv"))
    val sample = recallSampleQueries(corpus, idCol, vecCol, sq)
    val truth = bruteTopK(corpus, sample, idCol, vecCol, k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.get(0), r.get(1))).toSet
    // assignment once, reused across every rung (the in-flight
    // operator would re-assign the corpus per call)
    val assigned = ivfAssigned(corpus, idCol, vecCol, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every query's FULL centroid ranking once — a rung is then a
    // row-local r <= p cut (sample × lists rows, broadcast-sized)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("list").asc)
    val probesAll = sample
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(centroids, col("query_id") =!= lit(-1))
      .withColumn("d", VectorOps.l2sq(col("qv"), col("centv")))
      .withColumn("r", row_number().over(wProbe))
      .select("query_id", "qv", "list", "r")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (truth.isEmpty) (p0, 10000)
      else {
        // the full doubling ladder up front; ONE candidate join per
        // TIER scores its rungs simultaneously: each candidate carries
        // its list's probe rank r, a broadcast rung table replicates it
        // into every rung with rung >= r, and a (rung, query) window
        // ranks per rung with rankedTopK's exact ordering (score desc,
        // neighbor_id asc). The per-rung recalls — and therefore the
        // chosen rung — are identical to the sequential escalation.
        //
        // TWO tiers (r20 ADVICE): the common calibrate-passes-at-P₀
        // case pays only the P₀-wide candidate join; the cap-wide join
        // — up to lists/2 of the corpus per sample query — runs only
        // when P₀ measurably misses the target. The single-tier r20
        // shape materialized the cap-wide join even when the first
        // rung qualified, making the common case strictly MORE
        // expensive than the sequential escalation it replaced.
        val ladder = {
          val b = scala.collection.mutable.ArrayBuffer(p0)
          while (b.last < cap) b += math.min(cap, b.last * 2)
          b.toSeq
        }
        def recallsFor(rungs: Seq[Int]): Map[Int, Int] = {
          val rungDf = broadcast(rungs.toDF("rung"))
          val wRung = Window.partitionBy(col("rung"), col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id").asc)
          val topkAll = assigned
            .join(broadcast(probesAll.filter(col("r") <= rungs.max)), Seq("list"))
            .filter(col("query_id") =!= col("neighbor_id"))
            .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
            .join(rungDf, col("r") <= col("rung"))
            .withColumn("rk", row_number().over(wRung))
            .filter(col("rk") <= k)
            .select("rung", "query_id", "neighbor_id")
            .collect() // bounded: |rungs| x sample x k rows
          val byRung = topkAll.groupBy(_.getInt(0))
          rungs.map { p =>
            val got = byRung.getOrElse(p, Array.empty)
              .map(r => (r.get(1), r.get(2))).toSet
            p -> (10000L * (truth intersect got).size / truth.size).toInt
          }.toMap
        }
        val first = recallsFor(Seq(p0))
        if (first(p0) >= recallTargetBp || ladder.size == 1) (p0, first(p0))
        else {
          val recalls = first ++ recallsFor(ladder.filter(_ > p0))
          val chosen = ladder.find(p => recalls(p) >= recallTargetBp).getOrElse(cap)
          (chosen, recalls(chosen))
        }
      }
    } finally {
      assigned.unpersist()
      probesAll.unpersist()
    }
  }

  /** Calibration sample size derived from the recall target: treat the
    * sample's `queries × k` truth pairs as Bernoulli trials and size
    * for a ±`widthBp` normal-approximation confidence width at the
    * target (z = 1.96): `q = ⌈z²·p(1−p) / w² / k⌉`. At the 85 % target
    * and the default ±2.5 % width, k=5 ⇒ 157 queries — the fixed
    * 32-query sample this replaces was a ±5-6 % estimator that passed
    * on-sample and missed held-out by exactly that width (r19).
    */
  def calibrationSampleSize(recallTargetBp: Int, k: Int, widthBp: Int = 250): Int = {
    val p = recallTargetBp / 10000.0
    val w = widthBp / 10000.0
    math.max(32, math.ceil(1.96 * 1.96 * p * (1 - p) / (w * w) / math.max(1, k)).toInt)
  }

  /** Deterministic Lloyd (k-means) refinement of the hash-picked IVF
    * seeds — the production upgrade SCALE.md's IVF note promises.
    * Each round: row-local nearest-centroid assignment
    * ([[graft.functions.AnnExprs.nearestCentroid]], no corpus×centroid
    * join), then per-(list, dim) means via a posexplode + ONE hash
    * aggregate. Determinism: components are discretized row-local to
    * `floor(v·scale + 0.5)` longs, so the shuffled sum is exact
    * integer arithmetic — order-independent under any partitioning —
    * and the mean divides two exact integers (IEEE-exact). The driver
    * only ever holds the k×dim aggregate (rows = k·dim, bounded by
    * the IVF contract that centroids are small). Empty clusters keep
    * their previous centroid.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 20,
      iters: Int = 5,
      scale: Double = 1e6
  ): Seq[(Long, Array[Double])] = {
    var cents = seedCentroids(corpus, idCol, vecCol, numCentroids)
    val dvec = col(vecCol).cast("array<double>")
    for (_ <- 1 to iters) {
      val byList = corpus
        .select(graft.functions.AnnExprs
          .nearestCentroid(dvec, cents.map(_._1).toArray, cents.map(_._2).toArray).as("list"),
          posexplode(dvec).as(Seq("pos", "v")))
        .withColumn("sv", floor(col("v") * scale + 0.5).cast("long"))
        .groupBy("list", "pos")
        .agg(sum("sv").as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
      cents = cents.map { case (id, prev) =>
        byList.get(id) match {
          case Some(rows) =>
            val next = prev.clone()
            rows.foreach { r =>
              next(r.getInt(1)) = r.getLong(2).toDouble / scale / r.getLong(3)
            }
            (id, next)
          case None => (id, prev) // empty cluster: keep previous centroid
        }
      }
    }
    cents
  }

  /** Product-quantization ADC top-k: the compressed-exhaustive-scan ANN
    * tier. The corpus is represented as `m` small codes per vector
    * (64 floats → 8 codes here — a 32× memory cut, the reason PQ is the
    * 10^9-vector answer when even an IVF list won't fit in RAM);
    * queries precompute a per-subspace distance TABLE to every
    * codeword, so the per-pair cost is `m` array lookups + adds
    * instead of a full-dimension dot product (asymmetric distance
    * computation, Jégou et al., IEEE TPAMI 2011).
    *
    * Vectors are L2-NORMALIZED row-locally before the subspace split
    * (zero-norm rows excluded — the ANN family contract): the ADC
    * tables approximate L2, and on unit vectors L2 ranking is monotone
    * in cosine (‖a−b‖² = 2 − 2·cos), so the tier answers the family's
    * cosine contract. Without it the tier answers RAW-L2 ranking,
    * which diverges arbitrarily from cosine truth on unnormalized
    * corpora — measured at 200 k vectors: 1.6 % recall@5 vs cosine
    * truth raw, vs the normalized form (recordings/ann_index_r18.jsonl
    * post-fix rows). Normalization is IEEE-exact division, replayed
    * bit-identically by the oracle.
    *
    * Codebooks come from [[pqCodebooks]] (trained by default,
    * hash-seeded with `trainBooks = false`, or injected). Encoding is
    * `m` row-local argmin expressions ([[pqEncoded]], one codegen
    * pass, no shuffle); the scan streams the corpus against the
    * broadcast query tables ([[adcTopK]]) and the only shuffle is the
    * per-query rank, exactly [[bruteTopK]]'s shape but over codes.
    */
  def pqTopK(
      corpus0: DataFrame,
      queries0: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ks: Int = 256,
      dim: Int = 64,
      // rerank < 0 ⇒ the DERIVED default ([[defaultRerank]]): the
      // exact-cosine refine is ON unless explicitly disabled with 0 —
      // the pure-ADC default was a measured quality cliff (1.6 %
      // recall@5 at 200 k with hash-seeded ks=16 books,
      // recordings/pq_rerank_r18.jsonl); a user calling the obvious
      // entry point must not get near-noise neighbors silently
      rerank: Int = -1,
      trainedCodebooks: Option[Array[Array[Array[Double]]]] = None,
      // TRAIN-BY-DEFAULT (r20): when no books are injected, the
      // operator runs [[pqTrainCodebooks]] instead of shipping the
      // hash-seeded stand-in — a default `pqTopK(k=5)` measured 8.8 %
      // recall@5 at 200 k on hash-seeded ks=16 books while training
      // costs one-time seconds and the trained scan is no slower.
      // STATED FLOOR of the r20 default (trained ks=256 + R=50 refine,
      // measured on the i.i.d. worst-case fixture,
      // recordings/pq_rerank_r20.jsonl): 75.6 % recall@5 at 200 k for
      // this FULL compressed scan; spec-pinned >= 90 % at the verify
      // SF (DedupSimilaritySpec). Raise `rerank` when a higher target
      // matters — the refine cost is shortlist-proportional.
      // `trainBooks = false` pins the hash-seeded books explicitly
      // (oracle/parity cells).
      trainBooks: Boolean = true
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val corpus = normalizedSide(corpus0, idCol, vecCol)
    val queries = normalizedSide(queries0, idCol, vecCol)
    val codebooks = pqCodebooks(corpus0, idCol, vecCol, m, ks, dim, trainedCodebooks, trainBooks)
    val encoded = pqEncoded(corpus, idCol, vecCol, sub, codebooks)
    adcTopK(queries, idCol, vecCol, sub, codebooks, k, rerank, corpus)(dt =>
      encoded.join(broadcast(dt), col("query_id") =!= col("neighbor_id")))
  }

  /** The derived rerank multiplier when a PQ-family caller does not
    * choose one: an exact-cosine refine over a shortlist of
    * `max(50·k, 250)` ADC-ranked candidates — R = max(50, ⌈250/k⌉).
    * Rerank-by-default is the r19 family contract: the pure-ADC
    * defaults measurably shipped near-noise (1.6 % recall@5 at 200 k,
    * hash-seeded ks=16 — recordings/pq_rerank_r18.jsonl), and the
    * refine's raw-vector IO is shortlist-proportional, never
    * corpus-proportional, so the compressed-scan economics survive.
    * R was deepened 10→50 in r20 together with trained-by-default
    * books: at 200 k the (trained ks=256, R) ladder measures 38 % →
    * 46 % → 57 % recall@5 at R = 10/20/50 against a 65.6 % IVF probe
    * ceiling (recordings/pq_rerank_r20.jsonl) — R=50 is where the
    * compressed tier stops being the binding loss at the default
    * probe shape, and the added refine cost is noise next to the
    * probed-list scan. Pass `rerank = 0` explicitly for the pure-ADC
    * tier (probes and parity specs do).
    */
  def defaultRerank(k: Int): Int = math.max(50, (250 + k - 1) / k)

  /** Per-subspace k-means training of the PQ codebooks — the quality
    * knob the PQ family turns first (Jégou et al., TPAMI 2011 train
    * per-subspace codebooks; the hash-seeded default is an untrained
    * stand-in whose i.i.d.-fixture recall caps low — measured in
    * recordings/pq_rerank_r19.jsonl against this training). A
    * deterministic Lloyd refinement of the hash-picked seed books over
    * the L2-NORMALIZED corpus (the tier's input contract —
    * [[normalizedSide]]), so the result plugs into the
    * `trainedCodebooks` seam of [[pqTopK]] / [[ivfPqTopK]] /
    * [[AnnIndex.ivfPqIndexWrite]] and the persisted codes stay
    * consistent.
    *
    * Scale shape: each iteration is ONE corpus pass — every vector
    * computes its `m` row-local subspace argmins (no shuffle, no
    * corpus×codeword join), components discretize row-locally to
    * `floor(v·scale + 0.5)` longs, and a single hash aggregate (map-
    * side partials) produces the (subspace, codeword, pos) integer
    * sums; the driver only ever holds the m×ks×(dim/m) codebook.
    * Exact-deterministic end to end (integer sums are order-
    * independent under any partitioning; the mean is one IEEE-exact
    * division chain), so a SQL oracle replays the training
    * bit-for-bit. Empty codewords keep their previous value, like
    * [[kmeansCentroids]].
    */
  def pqTrainCodebooks(
      corpus0: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      ks: Int = 256,
      dim: Int = 64,
      iters: Int = 2,
      scale: Double = 1e6
  ): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val corpus = normalizedSide(corpus0, idCol, vecCol)
    var books = pqSeedBooks(corpus, idCol, vecCol, m, ks, sub)
    val vd = col(vecCol).cast("array<double>")
    for (_ <- 1 to iters) {
      // project the m argmins BEFORE the posexplode so each row's
      // assignment is computed once and carried, not re-derived per
      // exploded component
      val agg = corpus
        .select(array(pqCodes(vd, sub, books): _*).as("codes"), vd.as("v"))
        .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
        .select((col("pos") / sub).cast("int").as("mi"),
          element_at(col("codes"), (col("pos") / sub).cast("int") + 1).as("code"),
          (col("pos") % sub).as("spos"),
          floor(col("x") * scale + 0.5).cast("long").as("sv"))
        .groupBy("mi", "code", "spos")
        .agg(sum("sv").as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = agg.map(r => ((r.getInt(0), r.getLong(1), r.getInt(2)),
        (r.getLong(3), r.getLong(4)))).toMap
      books = Array.tabulate(m)(mi => books(mi).zipWithIndex.map { case (prev, ci) =>
        if (!byKey.contains((mi, ci + 1L, 0))) prev // empty codeword: keep
        else Array.tabulate(sub) { p =>
          val (s, nn) = byKey((mi, ci + 1L, p))
          s.toDouble / scale / nn
        }
      })
    }
    books
  }

  /** Exact-cosine re-rank of a compressed-scan shortlist — the
    * standard PQ recovery layer (FAISS's IVFPQR refine): ADC ranks a
    * shortlist of rerank×k candidates per query, then the raw
    * (normalized) vectors of ONLY those candidates are read and exact
    * cosine re-ranks the final k. Raw-vector IO is
    * shortlist-proportional, never corpus-proportional, so the
    * compressed-scan economics survive; recall recovers toward the
    * coarse quantizer's ceiling (measured at 200 k random vectors,
    * ks=16: 1.6 % pure-ADC → the shortlist's containment, 32 % at
    * R=100 — the i.i.d. random fixture is PQ's worst case; the
    * remaining gap is the IVF nProbe ceiling, a separate knob).
    */
  private[ext] def rerankShortlist(
      shortlist: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    rankedTopK(
      shortlist.select("query_id", "neighbor_id")
        .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
          Seq("neighbor_id"))
        // UNHINTED: a forced broadcast here would defeat the caller's
        // probe-side tier switch on a beyond-broadcast query set (r18
        // review catch); AQE broadcasts the query frame when it fits
        .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
          Seq("query_id"))
        .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
        .select("query_id", "neighbor_id", "cos"),
      "cos", scoreDesc = true, k)

  /** IVF-PQ: the two approximations composed — the standard layout for
    * 10^9-vector serving (FAISS's IVFPQ index family). IVF prunes the
    * search to `nProbe` of `numCentroids` lists; within them distances
    * come from the PQ code lookup instead of the raw vectors, so the
    * scan reads `m` bytes-ish per candidate and the full-precision
    * vectors never leave storage. One corpus pass computes BOTH the
    * list assignment and the codes (m+1 row-local argmins, no
    * shuffle); the probe side joins each query's nProbe lists with its
    * distance tables and broadcasts. Everything is hash-seeded, so the
    * oracle replays lists, codes, and the m-ordered fold bit-exactly.
    * Pass `trainedCentroids` / `trainedCodebooks` (e.g. read back from
    * a persisted [[AnnIndex]] store, or k-means-refined) to pin the
    * geometry instead of re-deriving it from `corpus` — the same
    * injection seam [[ivfTopK]] has, which is what lets
    * AnnIndexSpec prove the append path against this operator.
    */
  def ivfPqTopK(
      corpus0: DataFrame,
      queries0: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 0,
      nProbe: Int = 0,
      m: Int = 8,
      ks: Int = 256,
      dim: Int = 64,
      n: Long = -1L,
      trainedCentroids: Option[Seq[(Long, Array[Double])]] = None,
      trainedCodebooks: Option[Array[Array[Array[Double]]]] = None,
      // rerank < 0 ⇒ derived exact-cosine refine ([[defaultRerank]]) —
      // rerank-by-default is the r19 family contract (see pqTopK);
      // rerank = 0 pins the pure-ADC tier explicitly
      rerank: Int = -1,
      // train-by-default, like [[pqTopK]] (r20): absent injected
      // books, per-subspace k-means replaces the hash-seeded stand-in.
      // STATED QUALITY of the default call (trained ks=256, R=50,
      // measured in recordings/pq_rerank_r20.jsonl): recall@k is
      // bounded by the IVF probe ceiling (cost-shaped nProbe = L/8 —
      // calibrate with [[ivfProbesForRecall]] when a recall target
      // matters), and the compressed tier recovers 87 % of that
      // ceiling at 200 k (57.2 vs 65.6) and 74 % at 1 M (58.0 vs
      // 78.4) — spec-pinned >= 80 % of the ceiling at the verify SF.
      // For >= 85 % ABSOLUTE recall at >= 1 M compose the PRODUCTION
      // SHAPE: trained books (this default) + nProbe = L/2 (or
      // [[ivfProbesForRecall]]-calibrated) + rerank = 400 — measured
      // 91.6 % recall@5 at 1 M, 109 s on the dev box (the frontier
      // rows in the same recording; the R axis moves recall where the
      // P axis saturates past L/4).
      trainBooks: Boolean = true
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    // the whole tier runs on L2-NORMALIZED vectors (coarse quantizer,
    // codebooks, ADC tables alike — see pqTopK: L2 on unit vectors is
    // monotone in cosine, which is what the family's recall contract
    // ranks against); zero-norm rows excluded on both sides
    val corpus = normalizedSide(corpus0, idCol, vecCol)
    val queries = normalizedSide(queries0, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    // corpus-adaptive list/probe shape, identical derivation to
    // [[ivfTopK]]. The PQ codebook size `ks` stays fixed: code
    // granularity is a compression-accuracy trade, not an occupancy
    // one. The shape derives from the PRE-filter frame (corpus0): the
    // DuckDB oracle's count(*) counts all rows, so a corpus whose
    // zero-norm-filtered count straddles a power-of-two boundary must
    // not get a different list count than the oracle (r18 advice)
    val (_, probeCount, cents) = ivfGeometry(corpus, idCol, vecCol, numCentroids, nProbe,
      trainedCentroids, Dedup.corpusCount(corpus0, n, "ivfPqTopK"))
    val codebooks = pqCodebooks(corpus0, idCol, vecCol, m, ks, dim, trainedCodebooks, trainBooks)
    // one corpus pass: list + m codes, all row-local argmins
    val encoded = pqEncoded(corpus, idCol, vecCol, sub, codebooks, Some(cents))
    val probes = pqQueryProbes(queries, idCol, vecCol,
      broadcast(cents.toDF("list", "centv")), probeCount)
    adcTopK(queries, idCol, vecCol, sub, codebooks, k, rerank, corpus)(dt =>
      encoded.join(broadcast(probes.join(dt, Seq("query_id"))), Seq("list"))
        .filter(col("query_id") =!= col("neighbor_id")))
  }

  /** Per-label embedding statistics: class counts and the mean vector,
    * exact-deterministic via the same integer discretization as
    * [[kmeansCentroids]] (components become `floor(v·scale + 0.5)`
    * longs, so the shuffled sums are exact integer arithmetic and the
    * mean is one engine-identical division chain). Long format — one
    * row per (label, pos) — keeps the schema fixed at any dimension
    * and the whole thing is ONE hash aggregate with map-side partials:
    * the embedding-drift / class-balance dashboard for a corpus of any
    * size.
    */
  def labelCentroids(
      df: DataFrame,
      labelCol: String,
      vecCol: String,
      scale: Double = 1e6
  ): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .withColumn("sv", floor(col("v") * scale + 0.5).cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        (sum("sv").cast("double") / scale / count(lit(1))).as("mean_v"))

  /** Per-dimension z-score standardization of an embedding column —
    * the feature-scaling pass before distance-based ops (k-means, ANN)
    * when dimensions have uneven spread. Two jobs: a per-dimension
    * moment aggregate (one hash agg with map-side partials; output =
    * `dim` rows however large the corpus), broadcast back, then a
    * row-local transform. The broadcast is bounded by the DIMENSION,
    * not the corpus — always safe.
    *
    * Bit-determinism: components discretize to integer `v =
    * floor(x·scale + 0.5)` so the shuffled sums are exact; mean and
    * variance are then a fixed chain of IEEE-exact double ops
    * (integer→double casts below 2^53, division, multiply, subtract,
    * sqrt — all correctly rounded), and the emitted z-score is
    * re-discretized to `z_e4 = floor(z·1e4 + 0.5)`. The DuckDB oracle
    * replays the identical expression tree, so results hash exactly.
    * Long format (vec_id, pos, z_e4) — schema fixed at any dimension.
    */
  def standardizeDims(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scale: Double = 1e6,
      zScale: Double = 1e4
  ): DataFrame = {
    val e = df.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("v", floor(col("x") * scale + 0.5).cast("long"))
    // moments in DECIMAL: v*v as long*long overflows once |x|·scale
    // passes ~3e9 (and a long sum overflows at corpus row counts);
    // decimal sums stay exact AND associative, so the distributed
    // aggregation is still bit-deterministic — a double sum would be
    // neither. The one double rounding happens at the final cast.
    val vDec = col("v").cast("decimal(19,0)")
    val stats = e.groupBy("pos").agg(
      sum(vDec).as("s"),
      sum(vDec * vDec).as("s2"),
      count(lit(1)).as("n"))
    val mean = col("s").cast("double") / col("n")
    val variance = col("s2").cast("double") / col("n") - mean * mean
    e.join(broadcast(stats), Seq("pos"))
      // zero-spread guard: a constant dimension has variance 0 (or a
      // tiny NEGATIVE double from s2/n − mean² cancellation); dividing
      // by sqrt of that yields NaN/Inf, which Spark's cast silently
      // nulls while DuckDB errors — emit z_e4 = 0 instead, mirrored in
      // the oracle SQL (every value IS the mean, so 0 is also correct)
      .withColumn("z_e4",
        when(variance <= 0.0, lit(0L)).otherwise(
          floor((col("v").cast("double") - mean) / sqrt(variance) * zScale + 0.5)
            .cast("long")))
      .select("vec_id", "pos", "z_e4")
  }

  /** Seeded Gaussian projection matrix for [[randomProject]] —
    * exposed so the oracle SQL can embed the identical literals.
    */
  private[graft] def projectionMatrix(outDim: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] =
    hyperplanes(1, outDim, dim, seed)(0)

  /** Johnson-Lindenstrauss random projection: embed `vecCol` into
    * `outDim` dimensions with a seeded Gaussian matrix — the standard
    * cheap dimensionality reduction before clustering/dedup when the
    * raw dimension makes distance ops too expensive (pairwise
    * distances are preserved within ~1±eps for outDim ≈ 8·ln n / eps²,
    * JL lemma). Row-local single-pass codegen
    * ([[graft.functions.MatVecExpr]]) — a map-only projection, no
    * shuffle, matrix broadcast-sized. Output discretized to
    * `p_e4 = floor(p·1e4 + 0.5)` longs in long format (vec_id, pos,
    * p_e4); the fixed i-ascending accumulation order lets the oracle
    * replay projections bit-for-bit.
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDim: Int,
      dim: Int,
      seed: Long = 7L
  ): DataFrame = {
    val mat = projectionMatrix(outDim, dim, seed)
    df.select(col(idCol).as("vec_id"),
        posexplode(graft.functions.AnnExprs.matVec(col(vecCol), mat)).as(Seq("pos", "p")))
      .select(col("vec_id"), col("pos"),
        floor(col("p") * 1e4 + 0.5).cast("long").as("p_e4"))
  }

  /** The nProbe nearest centroid lists per query — shared by [[ivfTopK]]
    * and [[AnnIndex.ivfTopKIndexed]] so the probed-list choice (its l2
    * ordering and smaller-list tie-break) cannot drift between the
    * in-flight and the persisted-index paths. `centroids` must carry
    * (list, centv) and be small enough to broadcast (the IVF contract).
    */
  private[ext] def ivfQueryProbes(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      probeCount: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("list").asc)
    querySide(queries, idCol, vecCol)
      .join(centroids, col("query_id") =!= lit(-1))
      .withColumn("d", VectorOps.l2sq(col("qv"), col("centv")))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= probeCount)
      .select("query_id", "qv", "list")
  }

  /** The PQ tier's input contract in one place: zero-norm rows out
    * (a unit direction does not exist for them), remaining vectors
    * L2-normalized to `array<double>` under the SAME column names, so
    * the downstream seed/encode/probe logic is oblivious. Shared by
    * the in-flight PQ operators and [[AnnIndex]]'s IVF-PQ index so
    * the persisted codes can never disagree with the in-flight
    * encoding.
    */
  private[ext] def normalizedSide(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol))
      .filter(VectorOps.norm(col(vecCol)) > 0)
      .withColumn(vecCol, VectorOps.l2normalize(col(vecCol)))

  /** The nProbe nearest centroid lists per query for the PQ tier —
    * like [[ivfQueryProbes]] but without re-applying a zero-norm
    * filter (every caller — [[ivfPqTopK]], [[AnnIndex.ivfPqTopKIndexed]]
    * — feeds queries through [[normalizedSide]] first, so zero-norm
    * queries are already excluded TIER-WIDE by the normalized
    * contract; a second filter here would be dead code) and without
    * carrying `qv` (ADC distances come from the code lookup, never
    * the raw query vector). Shared by both callers so the probed-list
    * choice cannot drift between the in-flight and persisted-index
    * paths.
    */
  private[ext] def pqQueryProbes(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      probeCount: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("list").asc)
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(centroids, col("query_id") =!= lit(-1))
      .withColumn("d", VectorOps.l2sq(col("qv"), col("centv")))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= probeCount)
      .select("query_id", "list")
  }

  /** The first `limit` corpus rows in portable md5 key-hash order (hash
    * order = a reproducible uniform shuffle, same family as
    * [[Pipeline.hashSample]], so any engine can replay the pick; ties
    * by id), as (id, vector as doubles) in that order. A TakeOrdered —
    * per-partition top-K + K-row driver merge — so the driver holds
    * O(K×dim) at any corpus size. Every hash-seeded ANN geometry (IVF
    * centroids, PQ codebooks, the k-means and codebook-training seeds)
    * is this pick.
    */
  private def hashSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      limit: Int): Array[(Long, Array[Double])] = {
    val keyHash = expr(
      s"cast(conv(substr(md5(cast($idCol as string)), 1, 15), 16, 10) as bigint)")
    corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"), keyHash.as("h"))
      .orderBy(col("h"), col("id"))
      .limit(limit)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  }

  /** The hash-picked IVF seeds ([[hashSeeds]]) in list-id order, shared
    * by [[ivfTopK]], [[ivfPqTopK]], [[kmeansCentroids]] and the IVF
    * indexes.
    */
  private[ext] def seedCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int
  ): Seq[(Long, Array[Double])] =
    hashSeeds(corpus, idCol, vecCol, numCentroids).sortBy(_._1).toSeq

  /** The IVF geometry of a call: list count, probe count and centroids.
    * `numCentroids <= 0` derives the list count from the corpus size
    * `n` ([[adaptiveIvfLists]], by name — counted only when needed) or
    * from the injected centroids, `nProbe <= 0` couples the probe count
    * to it ([[adaptiveIvfProbes]]), and absent `trained` centroids the
    * seeds are hash-picked from `seedSide`. Shared by the in-flight IVF
    * tiers and the IVF indexes so a build and the operator it persists
    * can never derive different shapes.
    */
  private[ext] def ivfGeometry(
      seedSide: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int,
      nProbe: Int,
      trained: Option[Seq[(Long, Array[Double])]],
      n: => Long
  ): (Int, Int, Seq[(Long, Array[Double])]) = {
    val lists =
      if (numCentroids > 0) numCentroids
      else trained.map(_.size).getOrElse(adaptiveIvfLists(n))
    val probeCount = if (nProbe > 0) nProbe else adaptiveIvfProbes(lists)
    (lists, probeCount, trained.getOrElse(seedCentroids(seedSide, idCol, vecCol, lists)))
  }

  /** Corpus-side IVF list assignment over [[corpusSide]] (seeding stays
    * on the raw corpus — it is l2-only and needs no direction): each
    * vector's nearest centroid via the row-local argmin expression
    * (l2sq fold, smaller-id tie-break — no corpus×centroid join).
    * Output (list, neighbor_id, cv). Shared by [[ivfTopK]],
    * [[ivfProbesForRecall]] and the IVF index build/append.
    */
  private[ext] def ivfAssigned(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Array[Double])]
  ): DataFrame =
    corpusSide(corpus, idCol, vecCol)
      .withColumn("list", graft.functions.AnnExprs.nearestCentroid(
        col("cv"), cents.map(_._1).toArray, cents.map(_._2).toArray))
      .select("list", "neighbor_id", "cv")

  /** The IVF probe join and cosine, shared by [[ivfTopK]] and
    * [[AnnIndex.ivfTopKIndexed]] — they differ only in where the
    * assigned rows come from. `assigned` and `probes` meet on `key`;
    * the probe frame (queries × nProbe rows, each carrying a
    * `dim`-float qv) is broadcast while its estimated size stays under
    * `probeBroadcastMax`, and joins unhinted beyond it (AQE picks
    * shuffle-hash vs spillable sort-merge from actual sizes) — the same
    * tier switch as [[lshTopK]], identical answers.
    */
  private[ext] def ivfProbeJoin(
      assigned: DataFrame,
      probes: DataFrame,
      key: String,
      queries: DataFrame,
      probeCount: Int,
      dim: Int,
      queriesCount: Long,
      probeBroadcastMax: Long
  ): DataFrame = {
    val maxQ = probeBroadcastMax / math.max(1L, probeCount.toLong * (40L + 4L * dim))
    val probeSide =
      if (boundedCount(queries, maxQ, queriesCount) <= maxQ) broadcast(probes) else probes
    assigned.join(probeSide, Seq(key))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(VectorOps.cosine(col("qv"), col("cv")), 4))
  }

  /** The PQ codebooks of a call: `injected` books pin the geometry;
    * otherwise per-subspace k-means ([[pqTrainCodebooks]]) when `train`,
    * else the untrained hash-seeded stand-in ([[pqSeedBooks]] over the
    * normalized corpus — oracle/parity cells). Shared by [[pqTopK]],
    * [[ivfPqTopK]] and [[AnnIndex.ivfPqIndexWrite]].
    */
  private[ext] def pqCodebooks(
      corpus0: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ks: Int,
      dim: Int,
      injected: Option[Array[Array[Array[Double]]]],
      train: Boolean
  ): Array[Array[Array[Double]]] =
    injected.getOrElse {
      if (train) pqTrainCodebooks(corpus0, idCol, vecCol, m = m, ks = ks, dim = dim)
      else pqSeedBooks(normalizedSide(corpus0, idCol, vecCol), idCol, vecCol, m, ks, dim / m)
    }

  /** Hash-seeded PQ books: the `ks` [[hashSeeds]] vectors split into
    * `m` subspaces of `sub` components, codeword id = 1-based position
    * in hash order. A corpus smaller than `ks` yields fewer codewords —
    * every consumer sizes its code ids from the books actually built.
    */
  private def pqSeedBooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, sub: Int): Array[Array[Array[Double]]] = {
    val seeds = hashSeeds(corpus, idCol, vecCol, ks).map(_._2)
    Array.tabulate(m)(mi => seeds.map(s => s.slice(mi * sub, (mi + 1) * sub)))
  }

  /** The `m` row-local subspace argmins of the double vector `v` — the
    * PQ codes, codeword ids 1..ks of each book.
    */
  private def pqCodes(v: Column, sub: Int, books: Array[Array[Array[Double]]]): Seq[Column] = {
    val codeIds = Array.tabulate(books.headOption.map(_.length).getOrElse(0))(_ + 1L)
    books.indices.map(mi =>
      graft.functions.AnnExprs.nearestCentroid(slice(v, mi * sub + 1, sub), codeIds, books(mi)))
  }

  /** PQ encoding of a [[normalizedSide]] frame in one row-local pass (no
    * shuffle): `neighbor_id`, the IVF `list` when `cents` is given, and
    * `code_0 … code_{m-1}`. Shared by [[pqTopK]], [[ivfPqTopK]] and the
    * IVF-PQ index build/append, so the persisted codes can never
    * disagree with the in-flight encoding.
    */
  private[ext] def pqEncoded(
      side: DataFrame,
      idCol: String,
      vecCol: String,
      sub: Int,
      books: Array[Array[Array[Double]]],
      cents: Option[Seq[(Long, Array[Double])]] = None
  ): DataFrame = {
    val list = cents.map(c => graft.functions.AnnExprs.nearestCentroid(
      col("v"), c.map(_._1).toArray, c.map(_._2).toArray).as("list")).toSeq
    val codes = pqCodes(col("v"), sub, books).zipWithIndex.map { case (c, mi) => c.as(s"code_$mi") }
    side.repartition(side.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("neighbor_id") +: (list ++ codes): _*)
  }

  /** Asymmetric-distance (ADC) top-k, shared by [[pqTopK]],
    * [[ivfPqTopK]] and [[AnnIndex.ivfPqTopKIndexed]]: each query's `m`
    * per-subspace distance tables to every codeword (`dt_i`), then
    * `candidates(tables)` pairs them with encoded rows (`code_i`) and
    * the per-pair distance is `m` table lookups — `adist`, rounded, in
    * the oracle's m-ordered fold. The table build is compiled
    * (VecExprs.pqDistTable): one codegen loop per subspace, in the
    * oracle's fold order, instead of ks × dim interpreted lambdas.
    * `rerank < 0` derives the exact-cosine refine
    * ([[defaultRerank]]); when on, ADC ranks a rerank×k shortlist and
    * [[rerankShortlist]] re-ranks it against `refineFrom` (by name:
    * read only when the refine runs).
    */
  private[ext] def adcTopK(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      sub: Int,
      books: Array[Array[Array[Double]]],
      k: Int,
      rerank: Int,
      refineFrom: => DataFrame
  )(candidates: DataFrame => DataFrame): DataFrame = {
    val rr = if (rerank < 0) defaultRerank(k) else rerank
    val m = books.length
    val vd = col(vecCol).cast("array<double>")
    val tables = queries
      .select(col(idCol).as("query_id") +: (0 until m).map(mi =>
        slice(vd, mi * sub + 1, sub).as(s"sub_$mi")): _*)
      .select(col("query_id") +: (0 until m).map(mi =>
        graft.functions.VecExprs.pqDistTable(col(s"sub_$mi"), books(mi)).as(s"dt_$mi")): _*)
    val adist = (0 until m).map(mi =>
      element_at(col(s"dt_$mi"), col(s"code_$mi").cast("int"))).reduce(_ + _)
    val adc = rankedTopK(
      candidates(tables)
        .withColumn("adist", round(adist, 4))
        .select("query_id", "neighbor_id", "adist"),
      "adist", scoreDesc = false, if (rr > 0) rr * k else k)
    if (rr <= 0) adc else rerankShortlist(adc, refineFrom, queries, idCol, vecCol, k)
  }

  /** IVF approximate top-k. Default centroids are the `numCentroids`
    * corpus vectors whose portable md5 key hash sorts first
    * ([[seedCentroids]] — a TakeOrdered, O(K x dim) on the driver at
    * any corpus size); pass `trainedCentroids` (e.g. from
    * [[kmeansCentroids]]) to probe refined lists instead. Every corpus
    * vector joins its nearest centroid's list; each query probes its
    * `nProbe` nearest lists. At scale: write the corpus bucketed by
    * `list` so probing reads only nProbe buckets
    * ([[AnnIndex.ivfIndexWrite]]).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 0,
      nProbe: Int = 0,
      trainedCentroids: Option[Seq[(Long, Array[Double])]] = None,
      n: Long = -1L,
      queriesCount: Long = -1L,
      probeBroadcastMax: Long = ProbeBroadcastMaxBytes
  ): DataFrame = {
    // numCentroids <= 0 ⇒ derive the list count from the corpus size
    // and the probe count from the list count ([[ivfGeometry]]) — the
    // r16 default; explicit values pin a shape (the kmeans-trained
    // query and the unit fixtures do).
    val (_, probeCount, cents) = ivfGeometry(corpus, idCol, vecCol, numCentroids, nProbe,
      trainedCentroids, Dedup.corpusCount(corpus, n, "ivfTopK"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val probes = ivfQueryProbes(queries, idCol, vecCol,
      broadcast(cents.toDF("list", "centv")), probeCount)
    rankedTopK(
      ivfProbeJoin(ivfAssigned(corpus, idCol, vecCol, cents), probes, "list", queries,
        probeCount, cents.headOption.map(_._2.length).getOrElse(0), queriesCount,
        probeBroadcastMax),
      "cos", scoreDesc = true, k)
  }

  /** SemDeDup (Abbas et al., 2023): semantic dedup by k-means
    * clustering + within-cluster cosine pruning against one
    * representative — the embedding-space dedup that catches
    * paraphrases exact/MinHash dedup can't, at a cost LINEAR in the
    * corpus (vs the quadratic all-pairs baseline): after the k-means
    * rounds, every vector does ONE row-local centroid argmin and ONE
    * cosine against its cluster's representative.
    *
    * Representative = smallest id in the cluster (the paper keeps a
    * random member; smallest-id is the deterministic, oracle-
    * replayable choice). `keep` = representative itself, or cosine to
    * the representative below `tau`. Scale shape: centroids are
    * trained by [[kmeansCentroids]] (driver holds k×dim only),
    * assignment is the row-local [[graft.functions.AnnExprs.nearestCentroid]]
    * expression, the representative table is k rows riding a
    * broadcast, and the only corpus shuffle is the per-list min-id
    * aggregate. (The full paper prunes against ALL kept members of a
    * cluster — that refinement is a within-cluster join, still
    * cluster-bucketed, never all-pairs.)
    */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 20,
      iters: Int = 2,
      tau: Double = 0.2
  ): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, numCentroids, iters).toArray
    val assigned = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .withColumn("list",
        graft.functions.AnnExprs.nearestCentroid(col("v"), cents.map(_._1), cents.map(_._2)))
    // k-row rep-id table rides a broadcast against the corpus to pick
    // up the rep vectors — the corpus never shuffles for this lookup
    val repMin = assigned.groupBy("list").agg(min("vec_id").as("rep_id"))
    val reps = assigned
      .join(broadcast(repMin.select(col("rep_id"))), col("vec_id") === col("rep_id"))
      .select(col("list"), col("vec_id").as("rep_id"), col("v").as("rep_v"))
    // cosineSafe, NOT a row filter: semdedup's output must cover EVERY
    // input id (keep is a total verdict) — a zero-norm member scores
    // 0.0 vs its rep (below any positive τ ⇒ kept), instead of an ANSI
    // divide-by-zero killing the job
    assigned.join(broadcast(reps), Seq("list"))
      .withColumn("cos_rep", round(VectorOps.cosineSafe(col("v"), col("rep_v")), 4))
      .select(col("vec_id"), col("list"), col("rep_id"), col("cos_rep"),
        (col("vec_id") === col("rep_id") || col("cos_rep") < tau).as("keep"))
  }

  /** SemDeDup, full within-cluster pruning (the paper's refinement of
    * [[semDedup]]'s single-representative shortcut): a member is pruned
    * iff SOME same-cluster member with a smaller id is τ-similar to it
    * (`pruned_by` = the smallest such id). This guarantees what
    * rep-only pruning can't: NO two kept members of a cluster are
    * τ-similar (if both were kept, the later one had a τ-similar
    * earlier member — contradiction). Deterministic (id order, not the
    * paper's random member), so a SQL oracle replays it exactly; on
    * transitive similarity chains it prunes ≥ the greedy keep-chain
    * (conservative direction for dedup — never under-prunes).
    *
    * Scale shape: the pairwise refine is a self-join BUCKETED BY
    * CLUSTER — shuffle keyed on the cluster id, cost Σ n_c² (the
    * paper's own within-cluster cost), never a global all-pairs; the
    * k-means train and row-local assignment are shared with
    * [[semDedup]]. Cluster size is corpus/k in expectation, but a
    * near-duplicate-heavy crawl slice can make one cluster
    * pathologically hot — so the refine join is salted through
    * [[BucketCap.subSplit]] (the `minhashLshPairs` pattern): clusters
    * ≤ `maxCluster` join bit-identically (salt 0, oracle-safe
    * default), oversized ones split into ⌈size/cap⌉ sub-buckets,
    * dropping per-cluster cost from n² to ~n·cap. Within a split
    * cluster the no-two-kept-τ-similar guarantee holds per sub-bucket
    * (cross-sub-bucket pairs are not compared) — the conservative
    * direction is lost, so at deployment size `maxCluster` to the
    * largest cluster the τ-guarantee must span, and rely on the
    * k-means balance the paper itself assumes.
    */
  def semDedupFull(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = 20,
      iters: Int = 2,
      tau: Double = 0.2,
      maxCluster: Int = 100000
  ): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, numCentroids, iters).toArray
    // five consumers downstream (subSplit's hot count + both self-join
    // sides + the final verdict join) — persist so the corpus scan and
    // the k-distance nearestCentroid projection run once, matching
    // every other subSplit caller (minhashLshPairs, simhashPairs,
    // imageNearDupPairs); released via the Bench/Verify clearCache
    // contract between queries
    val assigned = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .withColumn("list",
        graft.functions.AnnExprs.nearestCentroid(col("v"), cents.map(_._1), cents.map(_._2)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val salted = BucketCap.subSplit(assigned, Seq("list"),
      col("vec_id").cast("string"), maxCluster)
    val a = salted.select(col("list"), col("_salt"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = salted.select(col("list"), col("_salt"), col("vec_id").as("id_b"), col("v").as("vb"))
    val pruned = a.join(b, Seq("list", "_salt"))
      .filter(col("id_a") < col("id_b"))
      // total verdict per id ⇒ cosineSafe (see semDedup): a zero-norm
      // member is τ-similar to nothing and stays kept
      .withColumn("cos", round(VectorOps.cosineSafe(col("va"), col("vb")), 4))
      .filter(col("cos") >= tau)
      .groupBy("list", "id_b").agg(min("id_a").as("pruned_by"))
    assigned
      .join(pruned.select(col("list"), col("id_b").as("vec_id"), col("pruned_by")),
        Seq("list", "vec_id"), "left")
      .select(col("vec_id"), col("list"), col("pruned_by"),
        col("pruned_by").isNull.as("keep"))
  }
}
