package graft.queries

import graft.Tables
import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search suite over `embeddings` (64-dim float vectors).
  * ALL three tiers are oracle-checked: the LSH/IVF variants are
  * approximate with respect to the true neighbors, but fully
  * DETERMINISTIC as algorithms (seeded hyperplanes / fixed-K
  * hash-picked centroids), so the oracle replays the exact algorithm in
  * DuckDB —
  * hyperplane literals are generated from the same seeded values the
  * Spark side uses. DedupSimilaritySpec additionally bounds their recall
  * against the brute baseline.
  */
object SimilarityQueries extends QueryGroup {

  private val K = 5
  private val Dim = 64
  private val ProjDim = 16

  /** Fixed staging dir for the persisted-index queries, wiped before
    * each build — same single-process assumption as the gate replays.
    */

  /** JL-projection oracle: one SELECT-list term per output dim, each
    * the UNROLLED left-associative sum `v[1]*m1 + v[2]*m2 + ...` —
    * the same accumulation order MatVecExpr runs, so every double is
    * bit-identical (shortest-repr literals round-trip exactly).
    */
  private lazy val projSql: String = {
    val mat = graft.ext.Similarity.projectionMatrix(ProjDim, Dim)
    val terms = mat.zipWithIndex.map { case (row, j) =>
      val chain = row.zipWithIndex.map { case (m, i) =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ($m)"
      }.mkString(" + ")
      s"CAST(floor(($chain) * 10000.0 + 0.5) AS BIGINT) AS p$j"
    }.mkString(",\n    ")
    s"""WITH proj AS (
  SELECT vec_id,
    $terms
  FROM embeddings)
SELECT vec_id, CAST(k AS INTEGER) AS pos,
  CASE ${(0 until ProjDim).map(j => s"WHEN k = $j THEN p$j").mkString(" ")} END AS p_e4
FROM proj, (SELECT unnest(generate_series(0, ${ProjDim - 1})) AS k)
ORDER BY vec_id, pos"""
  }

  /** Cosine in the oracle's spelling: double-precision sequential fold,
    * same as DotProductExpr.
    */
  /** Positive-norm predicate in the oracle's spelling — the SQL mirror
    * of the family-wide zero-norm exclusion (VectorOps.cosine doc).
    * DuckDB's x/0 is NULL, so thresholds/rank would usually hide a zero
    * vector anyway; the explicit predicate makes the exclusion
    * structural, matching the Spark side's input filters.
    */
  private def normPosSql(a: String): String =
    s"""list_sum(list_transform(generate_series(1, $Dim),
      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE))) > 0"""

  private[queries] def cosSql(q: String, c: String): String =
    s"""round(
      list_sum(list_transform(generate_series(1, $Dim),
        i -> CAST($q.embedding[i] AS DOUBLE) * CAST($c.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, $Dim),
           i -> CAST($q.embedding[i] AS DOUBLE) * CAST($q.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(generate_series(1, $Dim),
           i -> CAST($c.embedding[i] AS DOUBLE) * CAST($c.embedding[i] AS DOUBLE)))))
    , 4)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact cosine top-5 for query vectors vec_id < 10.
    "ann_topk_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K)
        .orderBy("query_id", "rank")
    }),

    // Hard negatives for retriever training: top-k below the positive
    // threshold (cos < 0.6) — informative negatives with probable
    // unlabeled positives excluded by a row-local τ-cut before ranking.
    "hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = K, tauPos = 0.6)
        .orderBy("query_id", "rank")
    }),

    // LSH approximate top-5, CORPUS-ADAPTIVE: derived signature width
    // + table coupling, FLAT DEEP query-directed probing (qd:12:3 —
    // the query side is broadcast, so deep probing multiplies queries,
    // not the corpus scan; measured 98.8/98.8/92.8 % recall across
    // 20k/200k/1M vectors vs 36.8/42.8/24.4 for the dedup coupling,
    // recordings/ann_recall_r17.jsonl). The oracle derives the same
    // shape from its own count(*) and states the probe semantics
    // directly (hamming <= 3 within the QUERY's low-margin 12-bit
    // mask).
    "ann_topk_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        n = emb.count())
        .orderBy("query_id", "rank")
    }),

    // IVF approximate top-5, CORPUS-ADAPTIVE (r16): list count =
    // smallest power of two L with L*L >= n (nlist ~ sqrt(n)), probes
    // = L/8 (min 3) — constant ~1/8 scan fraction at any corpus size,
    // where the old fixed 20L x 3P scanned 15 % of ANY corpus (10 k
    // vectors per list at 200 k). Oracle derives L and P from its own
    // count(*) with integer shifts.
    "ann_topk_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        n = emb.count())
        .orderBy("query_id", "rank")
    }),

    // IVF with k-means-trained lists: the hash-picked seeds refined by
    // KmIters deterministic Lloyd rounds (integer-discretized means —
    // order-independent under any partitioning), then the same probe
    // path. The oracle UNROLLS the training loop: each round is an
    // assignment CTE + a discretized-mean CTE, so DuckDB replays the
    // trained centroids bit-exactly from the raw table.
    "ann_topk_ivf_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // trained centroids are a deterministic model artifact — staged
      // once per JVM (Staging class doc), so the bench's min-of-N
      // prices the probe and pass 1 stays the train+probe certificate
      val trained = Staging.value("ann_topk_ivf_kmeans", dir) {
        Similarity.kmeansCentroids(
          emb, "vec_id", "embedding", numCentroids = 20, iters = KmIters)
      }
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        numCentroids = 20, nProbe = 3, trainedCentroids = Some(trained))
        .orderBy("query_id", "rank")
    }),

    // RECALL-TARGETED IVF probing (r19): adaptiveIvfProbes is a
    // cost-shaped fraction (lists/8) whose recall ceiling is whatever
    // the seeds allow (measured 65.6 % at 200 k) — this cell calibrates
    // nProbe instead: escalate along the doubling ladder {P0, 2P0, …,
    // cap = L/2} until recall@5 on a deterministic 32-query sampled
    // exact ground truth meets 85 %, then answer the sample at the
    // chosen probe count. The oracle replays the WHOLE escalation —
    // salted-hash sample, per-rung recall in integer basis points,
    // min-qualifying-rung choice — bit-for-bit.
    "ann_topk_ivf_recall_target" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      // calibration is a build-time pass, paid once per corpus
      // snapshot — staged per JVM so the bench prices the calibrated
      // probe, not the ladder (Staging class doc)
      // sampleQueries pinned at 32 — the oracle replays this exact
      // escalation; the API default derives the size from the target
      // (Similarity.calibrationSampleSize) since r20
      val (p, _) = Staging.value("ann_topk_ivf_recall_target", dir) {
        Similarity.ivfProbesForRecall(emb, "vec_id", "embedding", K, n = n,
          sampleQueries = 32)
      }
      Similarity.ivfTopK(emb,
        Similarity.recallSampleQueries(emb, "vec_id", "embedding", 32),
        "vec_id", "embedding", K, nProbe = p, n = n)
        .orderBy("query_id", "rank")
    }),

    // Persisted-index LSH top-5: build the index once under a staging
    // dir (slim sigs + vectors + meta), then answer the SAME adaptive
    // contract from the index alone — the build-once/query-many split
    // a production retrieval pipeline amortizes over every batch
    // (graft.ext.AnnIndex class doc). The oracle is ann_topk_lsh's
    // verbatim: the indexed probe is pair- and score-identical to the
    // in-flight operator by construction (AnnIndexSpec pins it).
    "ann_topk_lsh_indexed" -> ((s, dir) => {
      import graft.ext.AnnIndex
      val emb = Tables.embeddings(s, dir)
      val root = Staging.dir(s, "graft_ann_lsh_index", dir) { p =>
        AnnIndex.lshIndexWrite(emb, "vec_id", "embedding", p, n = emb.count())
      }
      AnnIndex.lshTopKIndexed(s, root, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", K)
        .orderBy("query_id", "rank")
    }),

    // Incremental index maintenance: build on the even half with the
    // shape PINNED TO THE FULL corpus size (production posture — size
    // the index for the target corpus), append the odd half WITHOUT
    // re-hashing the stored rows, then answer the same contract. The
    // hot-bucket blocklist is recomputed from the slim sigs on append,
    // so the final index is row-identical to a from-scratch build over
    // the union — the oracle is ann_topk_lsh's verbatim.
    "ann_topk_lsh_index_append" -> ((s, dir) => {
      import graft.ext.AnnIndex
      val emb = Tables.embeddings(s, dir)
      val root = Staging.dir(s, "graft_ann_lsh_index_append", dir) { p =>
        val n = emb.count()
        AnnIndex.lshIndexWrite(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", p, n = n)
        AnnIndex.lshIndexAppend(s, p, emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding")
      }
      AnnIndex.lshTopKIndexed(s, root, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", K)
        .orderBy("query_id", "rank")
    }),

    // Persisted-index IVF top-5: lists/ is PARTITIONED BY assigned
    // list, so the query batch's probed-list union becomes a partition
    // filter and the scan reads ~nProbe/lists of the corpus bytes —
    // the IO pruning the in-flight operator (which reassigns the whole
    // corpus per call) cannot have. Same adaptive shape and oracle as
    // ann_topk_ivf.
    "ann_topk_ivf_indexed" -> ((s, dir) => {
      import graft.ext.AnnIndex
      val emb = Tables.embeddings(s, dir)
      val root = Staging.dir(s, "graft_ann_ivf_index", dir) { p =>
        AnnIndex.ivfIndexWrite(emb, "vec_id", "embedding", p, n = emb.count())
      }
      AnnIndex.ivfTopKIndexed(s, root, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", K)
        .orderBy("query_id", "rank")
    }),

    // Product-quantization ADC top-5 at the FAMILY DEFAULT, which since
    // r19 is rerank-ON (derived R = 10·K shortlist, exact-cosine
    // refine): corpus compressed to 8 codes per vector, queries carry
    // per-subspace distance tables, per-pair cost is 8 lookups; the
    // ADC ranking chooses the shortlist, exact cosine ranks the final
    // K. Since r20 the default call TRAINS its books (2 deterministic
    // Lloyd rounds per subspace, ks=256) and reranks a 50K shortlist —
    // the untrained/shallow defaults measurably shipped near-noise
    // (8.8 % recall@5 at 200 k, recordings/pq_rerank_r19.jsonl; the
    // trained-default ladder is pq_rerank_r20.jsonl). The oracle
    // replays the TRAINING ROUNDS, codebooks, codes, the m-ordered
    // distance fold, and the refine tail bit-for-bit.
    "ann_topk_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the books the default call would train, staged once per JVM
      // (Staging class doc) — injecting them is FRAME-IDENTICAL to the
      // bare default call (train-by-default identity, spec-pinned in
      // DedupSimilaritySpec), so the oracle certifies the default
      // semantics while the bench prices the scan, not the training
      val books = Staging.value("ann_topk_pq", dir) {
        Similarity.pqTrainCodebooks(emb, "vec_id", "embedding")
      }
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        trainedCodebooks = Some(books))
        .orderBy("query_id", "rank")
    }),

    // Per-label class counts + mean vector (long format, one hash
    // aggregate) — exact-deterministic via integer-discretized sums.
    "embedding_label_stats" -> ((s, dir) => {
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy("label", "pos")
    }),

    // Per-dimension z-score feature scaling: dim-row moment aggregate
    // broadcast back (bounded by dimension, not corpus), row-local
    // transform, integer-discretized in and out so it hashes exactly.
    "embedding_scale" -> ((s, dir) => {
      Similarity.standardizeDims(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("vec_id", "pos")
    }),

    // Johnson-Lindenstrauss projection 64 -> 16 dims: map-only seeded
    // mat-vec (native codegen), oracle replays the matrix literals in
    // the SAME i-ascending summation order — bit-identical doubles.
    "embedding_project" -> ((s, dir) => {
      Similarity.randomProject(Tables.embeddings(s, dir), "vec_id", "embedding",
        outDim = ProjDim, dim = Dim)
        .orderBy("vec_id", "pos")
    }),

    // IVF-PQ: list pruning x code lookups — the composed 10^9-vector
    // serving layout (P/L of the corpus scanned, m lookups per
    // candidate, raw vectors never read at query time). List/probe
    // shape is corpus-adaptive like ann_topk_ivf (r16). This is the
    // bare DEFAULT call, which since r20 trains its ks=256 books
    // in-operator and reranks the 50K shortlist (see ann_topk_pq) —
    // the oracle replays training, lists, codes, fold, and refine.
    "ann_topk_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // staged default-trained books — frame-identical to the bare
      // default call (see ann_topk_pq note)
      val books = Staging.value("ann_topk_ivfpq", dir) {
        Similarity.pqTrainCodebooks(emb, "vec_id", "embedding")
      }
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        n = emb.count(), trainedCodebooks = Some(books))
        .orderBy("query_id", "rank")
    }),

    // Persisted-index IVF-PQ top-5 — the compressed completion of the
    // index trio and the layout that matters at 10^9 vectors: codes/
    // holds m=8 codes per vector (32x smaller than the raw floats, and
    // the raw vectors are never read at probe time) partitioned by the
    // assigned list, so the probed-list partition filter prunes
    // already-compressed bytes. Build = one corpus pass (list + m
    // codes, row-local argmins) plus the pinned centroids/codebooks;
    // append = assign+encode only the batch. Same adaptive shape and
    // oracle as ann_topk_ivfpq (answers are identical by construction;
    // AnnIndexSpec pins it, incl. a build-half/append-half parity).
    "ann_topk_ivfpq_indexed" -> ((s, dir) => {
      import graft.ext.AnnIndex
      val emb = Tables.embeddings(s, dir)
      val root = Staging.dir(s, "graft_ann_ivfpq_index", dir) { p =>
        AnnIndex.ivfPqIndexWrite(emb, "vec_id", "embedding", p, n = emb.count())
      }
      // family default = derived rerank; the indexed probe's refine
      // rehydrates the shortlist's raw vectors from the (cold) corpus
      // table — required at the default entry point, fail-loud without
      AnnIndex.ivfPqTopKIndexed(s, root, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", K, rerankFrom = Some(emb))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ through the trainedCodebooks INJECTION SEAM (vs
    // ann_topk_ivfpq, which trains in-operator since r20): the books
    // are trained outside at the COARSE ks=16 granularity and injected
    // — certifying that a persisted/externally-trained geometry pins
    // the scan exactly (Jégou et al. TPAMI 2011; the seam AnnIndex
    // reads books back through). The oracle unrolls the training
    // rounds (argmin assignment + integer-discretized per-(subspace,
    // codeword, pos) means, empty codewords keeping their previous
    // value) bit-for-bit, like the kmeans-IVF cell.
    "ann_topk_ivfpq_trained" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // training is a build-time model pass — staged per JVM so the
      // bench prices the trained scan (Staging class doc)
      val books = Staging.value("ann_topk_ivfpq_trained", dir) {
        Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
          ks = PqKs, iters = PqTrainIters)
      }
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        n = emb.count(), trainedCodebooks = Some(books))
        .orderBy("query_id", "rank")
    }),

    // Margin-based bitext mining (Artetxe & Schwenk 2019, the
    // LASER/CCMatrix recipe): cross-corpus pairs whose cosine stands
    // out from BOTH endpoints' k-NN neighborhood average — the hubness
    // correction a raw cosine threshold lacks. Sides = the parity
    // split of the embeddings table (disjoint ids); k = 4 (the
    // paper's); margin floor 1.2 keeps only pairs 20% above their
    // neighborhoods (39/36/48 rows at the three dev SFs — swept
    // non-vacuous). Integer e4/micro margin math — no float
    // accumulation anywhere (see ext/Bitext determinism contract).
    "bitext_margin_mine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.Bitext.marginMine(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, minMarginMicro = 1200000L)
        .orderBy("src_id", "tgt_id")
    }),

    // Margin floor DERIVED from the candidate distribution (r20): the
    // exact rank-quantile (q = 0.9) of the POSITIVE forward-candidate
    // margins replaces the fixture-tuned 1.2 constant the plain cell
    // pins — the held-out-threshold posture of Artetxe & Schwenk §4.
    // The oracle replays the ranked-quantile selection and the mined
    // tail bit-for-bit (rank-based, integer margins — no approximate
    // percentile anywhere).
    "bitext_margin_floor_derived" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      val fwd = Similarity.bruteTopK(tgt, src, "vec_id", "embedding", 4)
      val bwd = Similarity.bruteTopK(src, tgt, "vec_id", "embedding", 4)
      // the floor is a build-time calibration scalar — staged once per
      // JVM like ivfProbesForRecall's nProbe (Staging class doc)
      val floor = Staging.value[java.lang.Long]("bitext_margin_floor_derived", dir) {
        graft.ext.Bitext.deriveMarginFloor(fwd, bwd, 0.9)
      }
      graft.ext.Bitext.marginFromLists(fwd, bwd, floor)
        .orderBy("src_id", "tgt_id")
    }),

    // IVF-PQ with the exact-cosine RE-RANK layer (FAISS's IVFPQR
    // refine) — the recall recovery the pure-ADC tier measurably
    // needs: on the i.i.d.-random fixture (PQ's worst case — no
    // correlation structure to exploit) pure ADC@ks=16 recalls 1.6 %
    // of the cosine top-5 at 200 k vectors (recordings/
    // ann_index_r18.jsonl) because quantization noise ties thousands
    // of candidates; ADC ranks a 100×k shortlist instead and exact
    // cosine re-ranks it, recovering recall toward the IVF nProbe
    // ceiling at shortlist-proportional raw-vector IO. ks=64, R=10
    // here: the 50-row shortlist is SMALLER than the per-query probed
    // candidate set at every dev SF, so the cell genuinely certifies
    // the ADC ordering choosing the shortlist (an R large enough to
    // cover all candidates would make the cell codebook-independent —
    // the r18 review's vacuity catch, which also found the oracle
    // ignoring its ks parameter).
    "ann_topk_ivfpq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // trainBooks = false pins the HASH-SEEDED books deliberately:
      // with trained books a 10x shortlist at this dev SF would cover
      // all candidates and stop certifying the ADC ordering (the r18
      // vacuity catch this cell exists to avoid)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", K,
        ks = 64, n = emb.count(), rerank = 10, trainBooks = false)
        .orderBy("query_id", "rank")
    }),

    // The production seam under the oracle: the SAME margin math over
    // APPROXIMATE ranked lists — pinned 8x8 exact-collision lshTopK on
    // each side (cross-side bucket candidates, exact cosine re-rank) —
    // proving Bitext.marginFromLists composes with an ANN tier without
    // touching the margin contract. The oracle replays the per-side
    // bucket tables from the same sequential-plane literals, takes
    // cross-side collisions, and runs the identical integer margin.
    // (BucketCap's 100k hot-bucket drop is a no-op at every dev SF —
    // side tables top out at 2k rows.)
    "bitext_margin_mine_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      val fwd = Similarity.lshTopK(tgt, src, "vec_id", "embedding", 4, tables = 8, bits = 8)
      val bwd = Similarity.lshTopK(src, tgt, "vec_id", "embedding", 4, tables = 8, bits = 8)
      graft.ext.Bitext.marginFromLists(fwd, bwd, minMarginMicro = 1200000L)
        .orderBy("src_id", "tgt_id")
    }),

    // The PRODUCTION bitext composition (r19): each side indexed once
    // (persisted slim-sig LSH index, per-side derived shape), the other
    // side probing it in 2 disjoint hash batches whose k-row lists
    // materialize between jobs — the structural fix for the 77 GB
    // candidate-stream spill the in-flight composition hit at
    // 500k/side (recordings/bitext_r18.jsonl; r19 sizing in
    // bitext_r19.jsonl). Probe shape auto-couples (corpus-as-queries).
    // The oracle replays BOTH sides' derived plane sets from their own
    // parity counts, the coupled query-directed probing, the ranked
    // lists, and the integer margin — the hot-bucket cap is a no-op at
    // every dev SF (side tables max out far below 100k).
    "bitext_margin_mine_indexed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      // per-side index builds are staged once per JVM (Staging class
      // doc) — the timed cell is then the production per-batch cost:
      // batched probes + materialized lists + the margin join
      val root = Staging.dir(s, "graft_bitext_index", dir) { p =>
        graft.ext.Bitext.indexSides(s, src, tgt, "vec_id", "embedding", p)
      }
      // disjoint probe batches run as concurrent jobs (row-identical —
      // BitextSpec pins it); sequential batches exist for the
      // disk-bounded 500k-scale shape, not for correctness
      graft.ext.Bitext.marginMineIndexed(s, src, tgt, "vec_id", "embedding", root,
        k = 4, minMarginMicro = 1200000L, probeBatches = 2, indexesPrebuilt = true,
        concurrentBatches = 2)
        .orderBy("src_id", "tgt_id")
    }),

    // SemDeDup (Abbas et al. 2023): k-means clusters + within-cluster
    // cosine prune vs the min-id representative — paraphrase dedup at
    // LINEAR cost (one argmin + one cosine per vector; the all-pairs
    // baseline is quadratic). Oracle replays the unrolled training
    // and the keep rule bit-for-bit.
    "semdedup" -> ((s, dir) => {
      Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        numCentroids = 20, iters = KmIters, tau = SemTau)
        .orderBy("vec_id")
    }),

    // Full within-cluster pruning: τ-similarity to ANY smaller-id
    // cluster member prunes (cluster-bucketed pairwise refine) — the
    // no-two-kept-members-similar guarantee rep-only pruning lacks.
    "semdedup_full" -> ((s, dir) => {
      Similarity.semDedupFull(Tables.embeddings(s, dir), "vec_id", "embedding",
        numCentroids = 20, iters = KmIters, tau = SemTau)
        .orderBy("vec_id")
    })
  )

  /** SemDeDup keep-threshold: cos_rep >= tau (and not the rep) drops. */
  private val SemTau = 0.2

  /** Lloyd rounds the kmeans query runs and its oracle unrolls. */
  private val KmIters = 2

  /** Per-subspace Lloyd rounds the trained-PQ cell runs and its oracle
    * unrolls.
    */
  private val PqTrainIters = 2

  /** Brute-list bitext candidate CTEs shared by the exact-margin
    * oracles: both directions' exact rankings, neighborhood sums in
    * integer e4 units, the avg-of-avgs margin as one integer
    * multiply-divide — `cand` carries every forward top-4 pair with
    * its margin_micro.
    */
  private lazy val bitextBruteCandCtes: String =
    s"""pairs AS (
  SELECT s.vec_id AS sid, t.vec_id AS tid, ${cosSql("s", "t")} AS cos
  FROM embeddings s JOIN embeddings t ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
  WHERE ${normPosSql("s")} AND ${normPosSql("t")}),
fwd AS (SELECT sid, tid, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS cos_e4,
  row_number() OVER (PARTITION BY sid ORDER BY cos DESC, tid ASC) AS r FROM pairs),
bwd AS (SELECT tid, sid, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS cos_e4,
  row_number() OVER (PARTITION BY tid ORDER BY cos DESC, sid ASC) AS r FROM pairs),
nna AS (SELECT sid, sum(cos_e4) AS sum_a, count(*) AS cnt_a FROM fwd WHERE r <= 4 GROUP BY 1),
nnb AS (SELECT tid, sum(cos_e4) AS sum_b, count(*) AS cnt_b FROM bwd WHERE r <= 4 GROUP BY 1),
cand AS (
  SELECT f.sid, f.tid, f.cos_e4,
    2*f.cos_e4*cnt_a*cnt_b*1000000 // (sum_a*cnt_b + sum_b*cnt_a) AS margin_micro
  FROM fwd f JOIN nna USING (sid) JOIN nnb USING (tid)
  WHERE f.r <= 4 AND (sum_a*cnt_b + sum_b*cnt_a) > 0)"""

  /** Per-side derived-shape signature CTEs for the indexed-bitext
    * oracle: like DedupQueries.embLshMultiprobeSigsCtesFor, but the
    * shape derives from ONE side's parity count (an index's planes pin
    * to the corpus it indexes — graft.ext.AnnIndex.lshIndexWrite), and
    * the sig/mask rows are computed for EVERY vector under that side's
    * planes because the OTHER side probes with the same plane set. The
    * probe shape is the dedup coupling (budget/depth from psel):
    * corpus-as-queries always auto-couples
    * (Similarity.lshAutoShape — the flat-deep fold is out of reach by
    * an order of magnitude at every dev SF).
    */
  private def bitextSideSigsCtes(sfx: String, parity: Int): String =
    s"""nrows_$sfx AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 2 = $parity),
bsel_$sfx AS (SELECT COALESCE(min(b), 24) AS bits
         FROM generate_series(8, 24) g(b), nrows_$sfx
         WHERE (CAST(4 AS BIGINT) << b) >= n),
psel_$sfx AS (SELECT LEAST(32, 8 << GREATEST(0, (bits - 8) // 4)) AS tabs,
                LEAST(8, 3 + GREATEST(0, (bits - 8) // 4)) AS budget,
                CASE WHEN bits >= 16 THEN 3 ELSE 2 END AS depth
         FROM bsel_$sfx),
planes_$sfx AS (SELECT t, bit, plane FROM planes_all, bsel_$sfx, psel_$sfx
           WHERE planes_all.bit < bits AND planes_all.t < tabs),
margins_$sfx AS (
  SELECT e.vec_id, p.t, p.bit,
    list_sum(list_transform(generate_series(1, $Dim),
      i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) AS mg
  FROM embeddings e CROSS JOIN planes_$sfx p
  WHERE ${normPosSql("e")}),
sigs_$sfx AS (
  SELECT vec_id, t,
    CAST(sum(CASE WHEN mg >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN rk <= budget THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS mask
  FROM (SELECT vec_id, t, bit, mg,
          row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(mg), bit) AS rk
        FROM margins_$sfx), psel_$sfx
  GROUP BY 1, 2)"""

  /** Query-directed coupled-probe candidates against side `sfx`'s
    * index: queries are parity `qParity`, corpus rows the other parity.
    */
  private def bitextCandSql(name: String, sfx: String, qParity: Int): String =
    s"""$name AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
  FROM sigs_$sfx q, sigs_$sfx c, psel_$sfx
  WHERE q.t = c.t AND q.vec_id % 2 = $qParity AND c.vec_id % 2 = ${1 - qParity}
    AND bit_count(xor(q.b, c.b)) <= depth
    AND (xor(q.b, c.b) & q.mask) = xor(q.b, c.b))"""

  /** The seeded hyperplanes as DuckDB VALUES rows — Double.toString
    * round-trips exactly, so the oracle's planes are bit-identical to
    * the Spark side's.
    */
  private val planesValues: String =
    Similarity.hyperplanes(tables = 8, bits = 8, dim = Dim, seed = 42L)
      .zipWithIndex.flatMap { case (table, t) =>
        table.zipWithIndex.map { case (p, bit) =>
          p.mkString(s"($t, $bit, [", ", ", "])")
        }
      }.mkString(",\n")

  /** Adaptive query-probing LSH top-k oracle: shares the dedup
    * multiprobe signature/mask CTE chain (same derived bits/tables,
    * same prefix-stable planes) with the FLAT TOP-K probe shape —
    * mask = the query's [[Similarity.TopKProbeBudget]] lowest-|margin|
    * bits (rank auto-caps at the derived width), hamming <=
    * [[Similarity.TopKProbeDepth]] — and the probe condition
    * ONE-SIDED: only the QUERY side probes; the corpus side sits at
    * its exact key.
    */
  private val lshSql =
    s"""${DedupQueries.embLshMultiprobeSigsCtesFor(Similarity.TopKProbeBudget.toString)},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c
    ON q.t = c.t AND q.vec_id < 10 AND q.vec_id <> c.vec_id
    AND bit_count(xor(q.b, c.b)) <= ${Similarity.TopKProbeDepth}
    AND (xor(q.b, c.b) & q.mask) = xor(q.b, c.b)),
pairs AS (
  SELECT query_id, neighbor_id, ${cosSql("q", "c")} AS cos
  FROM cand JOIN embeddings q ON q.vec_id = query_id
            JOIN embeddings c ON c.vec_id = neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, cos FROM ranked
WHERE rank <= $K ORDER BY query_id, rank"""

  private def l2sqSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, $Dim),
      i -> (CAST($a.embedding[i] AS DOUBLE) - CAST($b.embedding[i] AS DOUBLE))
         * (CAST($a.embedding[i] AS DOUBLE) - CAST($b.embedding[i] AS DOUBLE))))"""

  /** Adaptive IVF oracle: derives L (smallest power of two with
    * L*L >= count(*), floor 16 / cap 65536 — Similarity.adaptiveIvfLists)
    * and P (GREATEST(3, L // 8) — adaptiveIvfProbes) with integer
    * shifts, picks the first L vectors in (md5-hash, id) order as
    * centroids, then replays assignment/probing/ranking exactly.
    */
  private val ivfSql =
    s"""WITH nrows AS (SELECT count(*) AS n FROM embeddings),
lsel AS (SELECT COALESCE(min(CAST(1 AS BIGINT) << p), 65536) AS L
         FROM generate_series(4, 16) g(p), nrows
         WHERE (CAST(1 AS BIGINT) << p) * (CAST(1 AS BIGINT) << p) >= n),
psel AS (SELECT GREATEST(3, L // 8) AS P FROM lsel),
centroids AS (
  SELECT list, embedding FROM (
    SELECT vec_id AS list, embedding,
      row_number() OVER (ORDER BY
        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS r
    FROM embeddings), lsel WHERE r <= L),
assigned AS (
  SELECT list, neighbor_id FROM (
    SELECT ct.list, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY ${l2sqSql("c", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings c CROSS JOIN centroids ct
    WHERE ${normPosSql("c")}) t WHERE r = 1),
probes AS (
  SELECT query_id, list FROM (
    SELECT q.vec_id AS query_id, ct.list,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY ${l2sqSql("q", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings q CROSS JOIN centroids ct
    WHERE q.vec_id < 10 AND ${normPosSql("q")}) t, psel WHERE r <= P),
pairs AS (
  SELECT p.query_id, a.neighbor_id, ${cosSql("q", "c")} AS cos
  FROM probes p JOIN assigned a USING (list)
       JOIN embeddings q ON q.vec_id = p.query_id
       JOIN embeddings c ON c.vec_id = a.neighbor_id
  WHERE p.query_id <> a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, cos FROM ranked
WHERE rank <= $K ORDER BY query_id, rank"""

  /** l2sq between a raw float-vector row alias and a double-list
    * centroid alias (the trained-centroid probe spelling).
    */
  private def l2sqToCv(vec: String, cv: String): String =
    s"""list_sum(list_transform(generate_series(1, $Dim),
      i -> (CAST($vec.embedding[i] AS DOUBLE) - $cv.cv[i])
         * (CAST($vec.embedding[i] AS DOUBLE) - $cv.cv[i])))"""

  /** Replays [[graft.ext.Similarity.ivfProbesForRecall]] plus the
    * final probe end to end: the salted-hash 32-query sample, its
    * exact (brute) top-K ground truth, the probe ladder
    * {P0, 2P0, …, cap}, per-rung recall as an integer basis-point
    * cross-comparison (hits·10⁴ ≥ target·total ⟺ the operator's
    * floor(10⁴·hits/total) ≥ target for integer targets), the
    * min-qualifying-rung choice (cap when none qualifies), and the
    * chosen rung's top-K answer for the sample.
    */
  private val ivfRecallTargetSql = {
    val targetBp = 8500
    s"""WITH nrows AS (SELECT count(*) AS n FROM embeddings),
lsel AS (SELECT COALESCE(min(CAST(1 AS BIGINT) << p), 65536) AS L
         FROM generate_series(4, 16) g(p), nrows
         WHERE (CAST(1 AS BIGINT) << p) * (CAST(1 AS BIGINT) << p) >= n),
psel AS (SELECT GREATEST(3, L // 8) AS P0 FROM lsel),
capsel AS (SELECT GREATEST(P0, L // 2) AS CAP FROM psel, lsel),
rungs AS (SELECT DISTINCT LEAST(CAP, P0 * (CAST(1 AS BIGINT) << j)) AS p
          FROM generate_series(0, 20) g(j), psel, capsel),
centroids AS (
  SELECT list, embedding FROM (
    SELECT vec_id AS list, embedding,
      row_number() OVER (ORDER BY
        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS r
    FROM embeddings), lsel WHERE r <= L),
sampleq AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY
      CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#q'), 1, 15)) AS BIGINT), vec_id) AS r
    FROM embeddings q WHERE ${normPosSql("q")}) t WHERE r <= 32),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rank
    FROM embeddings q JOIN sampleq s ON q.vec_id = s.vec_id
         JOIN embeddings c ON q.vec_id <> c.vec_id AND ${normPosSql("c")}) t
  WHERE rank <= $K),
assigned AS (
  SELECT list, neighbor_id FROM (
    SELECT ct.list, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY ${l2sqSql("c", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings c CROSS JOIN centroids ct
    WHERE ${normPosSql("c")}) t WHERE r = 1),
probes AS (
  SELECT q.vec_id AS query_id, ct.list,
    row_number() OVER (PARTITION BY q.vec_id
      ORDER BY ${l2sqSql("q", "ct")} ASC, ct.list ASC) AS r
  FROM embeddings q JOIN sampleq s ON q.vec_id = s.vec_id CROSS JOIN centroids ct),
ranked_p AS (
  SELECT g.p, pr.query_id, a.neighbor_id, ${cosSql("q", "c")} AS cos,
    row_number() OVER (PARTITION BY g.p, pr.query_id
      ORDER BY ${cosSql("q", "c")} DESC, a.neighbor_id ASC) AS rank
  FROM rungs g JOIN probes pr ON pr.r <= g.p
       JOIN assigned a ON a.list = pr.list
       JOIN embeddings q ON q.vec_id = pr.query_id
       JOIN embeddings c ON c.vec_id = a.neighbor_id
  WHERE pr.query_id <> a.neighbor_id),
rec AS (
  SELECT t.p, count(*) AS hits
  FROM (SELECT p, query_id, neighbor_id FROM ranked_p WHERE rank <= $K) t
  JOIN truth u ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
  GROUP BY t.p),
total AS (SELECT count(*) AS tt FROM truth),
chosen AS (
  SELECT COALESCE(min(p), (SELECT CAP FROM capsel)) AS cp
  FROM rec, total WHERE hits * 10000 >= $targetBp * tt)
SELECT query_id, rank, neighbor_id, cos
FROM ranked_p, chosen WHERE p = cp AND rank <= $K
ORDER BY query_id, rank"""
  }

  /** Replays kmeansCentroids + ivfTopK end to end: hash-picked seeds
    * (c0), then per round t an argmin assignment (a_t) and the
    * integer-discretized per-(list, pos) mean (m_t → c_t, empty lists
    * keeping the previous centroid), then the standard IVF
    * assign/probe/rank against the final centroids. All arithmetic is
    * the same IEEE-exact sequence the Spark side runs: float→double
    * casts, sequential fold sums, floor(v·1e6 + 0.5) longs summed as
    * integers, and (sum/1e6)/n double division.
    */
  /** The k-means training replay shared by `ann_topk_ivf_kmeans` and
    * `semdedup`: c0 (hash-picked seeds), comp (exploded components),
    * then per round t an argmin assignment a_t and discretized-mean
    * m_t → c_t. Final centroids are the CTE `c$KmIters`.
    */
  private val kmTrainCtes = {
    val iterCtes = (1 to KmIters).map { t =>
      val prev = s"c${t - 1}"
      s"""a$t AS (
  SELECT list, vec_id FROM (
    SELECT ct.list, e.vec_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${l2sqToCv("e", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings e CROSS JOIN $prev ct) t WHERE r = 1),
m$t AS (
  SELECT a$t.list, comp.pos,
    CAST(CAST(sum(CAST(floor(comp.v * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
      / 1000000.0 / count(*) AS mv
  FROM a$t JOIN comp USING (vec_id) GROUP BY 1, 2),
c$t AS (
  SELECT p.list, coalesce(m.cv, p.cv) AS cv
  FROM $prev p LEFT JOIN
    (SELECT list, list(mv ORDER BY pos) AS cv FROM m$t GROUP BY list) m
  ON p.list = m.list)"""
    }.mkString(",\n")
    s"""c0 AS (
  SELECT vec_id AS list, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
  LIMIT 20),
comp AS (
  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS i)),
$iterCtes"""
  }

  private val ivfKmeansSql = {
    s"""WITH $kmTrainCtes,
assigned AS (
  SELECT list, neighbor_id FROM (
    SELECT ct.list, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY ${l2sqToCv("c", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings c CROSS JOIN c$KmIters ct
    WHERE ${normPosSql("c")}) t WHERE r = 1),
probes AS (
  SELECT query_id, list FROM (
    SELECT q.vec_id AS query_id, ct.list,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY ${l2sqToCv("q", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings q CROSS JOIN c$KmIters ct
    WHERE q.vec_id < 10 AND ${normPosSql("q")}) t WHERE r <= 3),
pairs AS (
  SELECT p.query_id, a.neighbor_id, ${cosSql("q", "c")} AS cos
  FROM probes p JOIN assigned a USING (list)
       JOIN embeddings q ON q.vec_id = p.query_id
       JOIN embeddings c ON c.vec_id = a.neighbor_id
  WHERE p.query_id <> a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, cos FROM ranked
WHERE rank <= $K ORDER BY query_id, rank"""
  }

  /** PQ parameters mirrored by [[graft.ext.Similarity.pqTopK]]'s
    * defaults: 8 subspaces of 8 dims, 16 codewords.
    */
  private val PqM = 8
  private val PqSub = Dim / PqM
  /** The coarse codebook granularity the INJECTION-SEAM cell pins
    * (ann_topk_ivfpq_trained) — kept small so the seam certificate is
    * cheap to replay and distinct from the operator default.
    */
  private val PqKs = 16
  /** The operator-default granularity ([[graft.ext.Similarity.pqTopK]]
    * `ks = 256` — standard 8-bit PQ codes), replayed by the
    * default-call oracles.
    */
  private val PqKsDefault = 256

  /** l2sq between subspace `m` of a raw vector row alias and a codeword
    * list alias, folded in index order.
    */
  /** ADC sub-distance over the NORMALIZED view's `nv` components (the
    * operator L2-normalizes both sides before the subspace split —
    * L2 on unit vectors is monotone in cosine, the family contract).
    */
  private def pqSubDist(vec: String): String =
    s"""list_sum(list_transform(generate_series(1, $PqSub),
      i -> ($vec.nv[cb.m * $PqSub + i] - cb.cw[i])
         * ($vec.nv[cb.m * $PqSub + i] - cb.cw[i])))"""

  /** The PQ tier's input view: zero-norm rows out, components divided
    * by the row norm — IEEE-exact division, bit-identical to
    * Similarity.normalizedSide.
    */
  private val nembCte =
    s"""nemb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)
    / sqrt(list_sum(list_transform(embedding,
        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
  FROM embeddings
  WHERE list_sum(list_transform(embedding,
        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0)"""

  /** The seed-codebook CTEs (`seedv`/`seeds`/`cb0`) plus the optional
    * per-subspace k-means training chain, ending in the final `cb`
    * view the encode/distance-table CTEs consume. `trainIters > 0`
    * replays [[graft.ext.Similarity.pqTrainCodebooks]] exactly: per
    * round, an argmin assignment per (vector, subspace) under the
    * previous books, then the integer-discretized per-(subspace,
    * codeword, pos) mean (empty codewords keep their previous value) —
    * the same IEEE-exact arithmetic chain the Spark side runs
    * (floor(v·1e6 + 0.5) BIGINT sums, sum→DOUBLE / 1e6 / count).
    */
  private def cbCtes(ks: Int, trainIters: Int): String = {
    val seedCtes = s"""seedv AS (
  SELECT vec_id, nv AS v
  FROM nemb
  ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
  LIMIT $ks),
seeds AS (
  SELECT row_number() OVER (ORDER BY
    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS k, v
  FROM seedv),
cb0 AS (
  SELECT k, m, list_slice(v, m * $PqSub + 1, m * $PqSub + $PqSub) AS cw
  FROM seeds, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m))"""
    if (trainIters <= 0) s"$seedCtes,\ncb AS (SELECT m, k, cw FROM cb0)"
    else {
      val iterCtes = (1 to trainIters).map { t =>
        val prev = s"cb${t - 1}"
        s"""tr_enc$t AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT e.vec_id, cb.m, cb.k,
      row_number() OVER (PARTITION BY e.vec_id, cb.m
        ORDER BY ${pqSubDist("e")} ASC, cb.k ASC) AS r
    FROM nemb e CROSS JOIN $prev cb) t WHERE r = 1),
tr_mn$t AS (
  SELECT en.m, en.code AS k, nc.spos,
    CAST(CAST(sum(CAST(floor(nc.v * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
      / 1000000.0 / count(*) AS mv
  FROM tr_enc$t en JOIN ncomp nc ON nc.vec_id = en.vec_id AND nc.m = en.m
  GROUP BY 1, 2, 3),
cb$t AS (
  SELECT p.m, p.k, coalesce(w.cw, p.cw) AS cw
  FROM $prev p LEFT JOIN
    (SELECT m, k, list(mv ORDER BY spos) AS cw FROM tr_mn$t GROUP BY m, k) w
  ON p.m = w.m AND p.k = w.k)"""
      }.mkString(",\n")
      s"""$seedCtes,
ncomp AS (
  SELECT vec_id, CAST((i - 1) // $PqSub AS INTEGER) AS m,
    CAST((i - 1) % $PqSub AS INTEGER) AS spos, nv[i] AS v
  FROM nemb, (SELECT unnest(generate_series(1, $Dim)) AS i)),
$iterCtes,
cb AS (SELECT m, k, cw FROM cb$trainIters)"""
    }
  }

  /** The exact-cosine rerank tail shared by the PQ-family oracles: the
    * ADC `ranked` CTE becomes a shortlist of rerankMult×K, re-ranked by
    * exact cosine over the normalized view — what the operators'
    * derived-default `rerank` runs ([[graft.ext.Similarity.defaultRerank]]).
    */
  private def rerankTailSql(rerankMult: Int): String = s""",
short AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= ${K * rerankMult}),
rr AS (
  SELECT s.query_id, s.neighbor_id,
    round(list_sum(list_transform(generate_series(1, $Dim), i -> q.nv[i] * c.nv[i]))
      / (sqrt(list_sum(list_transform(generate_series(1, $Dim), i -> q.nv[i] * q.nv[i])))
       * sqrt(list_sum(list_transform(generate_series(1, $Dim), i -> c.nv[i] * c.nv[i])))), 4) AS cos
  FROM short s JOIN nemb q ON q.vec_id = s.query_id
               JOIN nemb c ON c.vec_id = s.neighbor_id),
ranked2 AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM rr)
SELECT query_id, rank, neighbor_id, cos FROM ranked2
WHERE rank <= $K ORDER BY query_id, rank"""

  /** Parameterized PQ (compressed exhaustive scan) oracle — rerankMult
    * > 0 appends the exact-cosine refine tail the operator's derived
    * default runs; trainIters > 0 prepends the per-subspace k-means
    * training chain the r20 train-by-default contract runs.
    */
  private def pqSqlFor(ks: Int, rerankMult: Int, trainIters: Int = 0): String =
    s"""WITH $nembCte,
${cbCtes(ks, trainIters)},
enc AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT e.vec_id, cb.m, cb.k,
      row_number() OVER (PARTITION BY e.vec_id, cb.m
        ORDER BY ${pqSubDist("e")} ASC, cb.k ASC) AS r
    FROM nemb e CROSS JOIN cb) t WHERE r = 1),
dt AS (
  SELECT q.vec_id AS query_id, cb.m, cb.k, ${pqSubDist("q")} AS d
  FROM nemb q CROSS JOIN cb WHERE q.vec_id < 10),
pd AS (
  SELECT dt.query_id, enc.vec_id AS neighbor_id, enc.m, dt.d
  FROM enc JOIN dt ON dt.m = enc.m AND dt.k = enc.code
  WHERE dt.query_id <> enc.vec_id),
ad AS (
  SELECT query_id, neighbor_id, round(list_sum(list(d ORDER BY m)), 4) AS adist
  FROM pd GROUP BY 1, 2),
ranked AS (
  SELECT query_id, neighbor_id, adist,
    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM ad)${if (rerankMult <= 0) s"""
SELECT query_id, rank, neighbor_id, adist FROM ranked
WHERE rank <= $K ORDER BY query_id, rank""" else rerankTailSql(rerankMult)}"""

  /** IVF-PQ oracle: ivfSql's ADAPTIVE centroid/assign/probe CTEs
    * (same L/P integer derivations from count(*)) composed with
    * pqSql's codebook/encode/distance-table CTEs — candidates come from
    * probed lists, distances from code lookups, both replayed exactly.
    */
  /** l2sq between two normalized-view aliases (both carry `nv`). */
  private def l2sqNSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, $Dim),
      i -> ($a.nv[i] - $b.nv[i]) * ($a.nv[i] - $b.nv[i])))"""

  /** Parameterized IVF-PQ oracle: codebook size `ks`, the optional
    * exact-cosine RE-RANK tail (rerankMult > 0 ⇒ the ADC ranking
    * becomes a shortlist of rerankMult×K, re-ranked by exact cosine
    * over the normalized view — the FAISS-style refine layer the
    * operator's `rerank` arg runs, and the derived DEFAULT since r19),
    * and the optional per-subspace k-means codebook training chain
    * (`trainIters` — see [[cbCtes]]).
    */
  private def ivfPqSqlFor(ks: Int, rerankMult: Int, trainIters: Int = 0): String =
    s"""WITH $nembCte,
nrows AS (SELECT count(*) AS n FROM embeddings),
lsel AS (SELECT COALESCE(min(CAST(1 AS BIGINT) << p), 65536) AS L
         FROM generate_series(4, 16) g(p), nrows
         WHERE (CAST(1 AS BIGINT) << p) * (CAST(1 AS BIGINT) << p) >= n),
psel AS (SELECT GREATEST(3, L // 8) AS P FROM lsel),
centroids AS (
  SELECT list, nv FROM (
    SELECT vec_id AS list, nv,
      row_number() OVER (ORDER BY
        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS r
    FROM nemb), lsel WHERE r <= L),
assigned AS (
  SELECT list, neighbor_id FROM (
    SELECT ct.list, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY ${l2sqNSql("c", "ct")} ASC, ct.list ASC) AS r
    FROM nemb c CROSS JOIN centroids ct) t WHERE r = 1),
probes AS (
  SELECT query_id, list FROM (
    SELECT q.vec_id AS query_id, ct.list,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY ${l2sqNSql("q", "ct")} ASC, ct.list ASC) AS r
    FROM nemb q CROSS JOIN centroids ct WHERE q.vec_id < 10) t, psel WHERE r <= P),
${cbCtes(ks, trainIters)},
enc AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT e.vec_id, cb.m, cb.k,
      row_number() OVER (PARTITION BY e.vec_id, cb.m
        ORDER BY ${pqSubDist("e")} ASC, cb.k ASC) AS r
    FROM nemb e CROSS JOIN cb) t WHERE r = 1),
dt AS (
  SELECT q.vec_id AS query_id, cb.m, cb.k, ${pqSubDist("q")} AS d
  FROM nemb q CROSS JOIN cb WHERE q.vec_id < 10),
cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM probes p JOIN assigned a USING (list)
  WHERE p.query_id <> a.neighbor_id),
pd AS (
  SELECT c.query_id, c.neighbor_id, e.m, dt.d
  FROM cand c
  JOIN enc e ON e.vec_id = c.neighbor_id
  JOIN dt ON dt.query_id = c.query_id AND dt.m = e.m AND dt.k = e.code),
ad AS (
  SELECT query_id, neighbor_id, round(list_sum(list(d ORDER BY m)), 4) AS adist
  FROM pd GROUP BY 1, 2),
ranked AS (
  SELECT query_id, neighbor_id, adist,
    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM ad)${if (rerankMult <= 0) s"""
SELECT query_id, rank, neighbor_id, adist FROM ranked
WHERE rank <= $K ORDER BY query_id, rank""" else rerankTailSql(rerankMult)}"""

  val oracleSql: Map[String, String] = Map(
    "ann_topk_brute" ->
      s"""WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${cosSql("q", "c")} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    AND ${normPosSql("q")} AND ${normPosSql("c")}),
ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, cos FROM ranked
WHERE rank <= $K ORDER BY query_id, rank""",
    "hard_negatives" ->
      s"""WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${cosSql("q", "c")} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    AND ${normPosSql("q")} AND ${normPosSql("c")}),
ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM pairs WHERE cos < 0.6)
SELECT query_id, rank, neighbor_id, cos FROM ranked
WHERE rank <= $K ORDER BY query_id, rank""",
    "embedding_label_stats" ->
      s"""WITH comp AS (
  SELECT label, CAST(i - 1 AS INTEGER) AS pos,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS sv
  FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS i))
SELECT label, pos, count(*) AS n,
  CAST(CAST(sum(sv) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*) AS mean_v
FROM comp GROUP BY 1, 2 ORDER BY label, pos""",

    "embedding_scale" ->
      s"""WITH comp AS (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
  FROM embeddings, (SELECT unnest(generate_series(1, $Dim)) AS i)),
st AS (
  SELECT pos, CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS s2,
    count(*) AS n
  FROM comp GROUP BY 1)
SELECT vec_id, comp.pos,
  CASE WHEN CAST(s2 AS DOUBLE) / n
         - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) <= 0
       THEN CAST(0 AS BIGINT)
       ELSE CAST(floor((CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / n)
    / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
    * 10000.0 + 0.5) AS BIGINT) END AS z_e4
FROM comp JOIN st ON comp.pos = st.pos
ORDER BY vec_id, comp.pos""",

    "embedding_project" -> projSql,

    "ann_topk_lsh" -> lshSql,
    "ann_topk_ivf" -> ivfSql,
    "ann_topk_ivf_kmeans" -> ivfKmeansSql,
    "ann_topk_ivf_recall_target" -> ivfRecallTargetSql,
    // the persisted-index variants answer the in-flight operators'
    // contracts exactly (same planes/buckets/probes; AnnIndexSpec pins
    // frame equality), so they reuse the same oracle SQL verbatim
    "ann_topk_lsh_indexed" -> lshSql,
    "ann_topk_lsh_index_append" -> lshSql,
    "ann_topk_ivf_indexed" -> ivfSql,

    "semdedup" ->
      s"""WITH $kmTrainCtes,
assigned AS (
  SELECT list, vec_id FROM (
    SELECT ct.list, e.vec_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${l2sqToCv("e", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings e CROSS JOIN c$KmIters ct) t WHERE r = 1),
reps AS (SELECT list, min(vec_id) AS rep_id FROM assigned GROUP BY 1),
scored AS (
  SELECT a.vec_id, a.list, r.rep_id,
    COALESCE(${cosSql("e", "re")}, 0.0) AS cos_rep
  FROM assigned a JOIN reps r USING (list)
       JOIN embeddings e ON e.vec_id = a.vec_id
       JOIN embeddings re ON re.vec_id = r.rep_id)
SELECT vec_id, list, rep_id, cos_rep,
       (vec_id = rep_id OR cos_rep < $SemTau) AS keep
FROM scored ORDER BY vec_id""",

    "semdedup_full" ->
      s"""WITH $kmTrainCtes,
assigned AS (
  SELECT list, vec_id FROM (
    SELECT ct.list, e.vec_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${l2sqToCv("e", "ct")} ASC, ct.list ASC) AS r
    FROM embeddings e CROSS JOIN c$KmIters ct) t WHERE r = 1),
pruned AS (
  SELECT a2.list, a2.vec_id, min(a1.vec_id) AS pruned_by
  FROM assigned a1 JOIN assigned a2
       ON a1.list = a2.list AND a1.vec_id < a2.vec_id
       JOIN embeddings ea ON ea.vec_id = a1.vec_id
       JOIN embeddings eb ON eb.vec_id = a2.vec_id
  WHERE COALESCE(${cosSql("ea", "eb")}, 0.0) >= $SemTau
  GROUP BY 1, 2)
SELECT s.vec_id, s.list, p.pruned_by, (p.pruned_by IS NULL) AS keep
FROM assigned s LEFT JOIN pruned p
     ON p.list = s.list AND p.vec_id = s.vec_id
ORDER BY s.vec_id""",
    // the PQ-family DEFAULT shape since r19 is rerank-on (derived
    // R = defaultRerank(K) = 10) — these oracles carry the exact-cosine
    // refine tail the default runs; the pure-ADC ordering stays
    // load-bearing through the shortlist choice
    // the PQ-family DEFAULT calls (pq / ivfpq / ivfpq_indexed) replay
    // the r20 train-by-default contract: ks=256 books trained for
    // PqTrainIters rounds in-oracle, defaultRerank(K)=50 refine tail
    "ann_topk_pq" -> pqSqlFor(PqKsDefault, 50, PqTrainIters),
    "ann_topk_ivfpq" -> ivfPqSqlFor(PqKsDefault, 50, PqTrainIters),
    "ann_topk_ivfpq_indexed" -> ivfPqSqlFor(PqKsDefault, 50, PqTrainIters),
    "ann_topk_ivfpq_rerank" -> ivfPqSqlFor(64, 10),
    "ann_topk_ivfpq_trained" -> ivfPqSqlFor(PqKs, 50, PqTrainIters),

    // states the margin semantics directly: both directions' exact
    // brute rankings, neighborhood sums in integer e4 units, the
    // avg-of-avgs margin as one integer multiply-divide (Spark `div`
    // and DuckDB `//` agree on the positive values that can pass the
    // floor)
    "bitext_margin_mine" ->
      s"""WITH $bitextBruteCandCtes
SELECT sid AS src_id, tid AS tgt_id, cos_e4, CAST(margin_micro AS BIGINT) AS margin_micro
FROM cand WHERE margin_micro >= 1200000
ORDER BY src_id, tgt_id""",

    // rank-quantile floor over the positive candidate margins (the
    // ⌈0.9·N⌉-th smallest), then the tail above it — the operator's
    // deriveMarginFloor + marginFromLists replayed exactly. Positive
    // margins only: Spark `div` (truncating) and `//` (floor) agree on
    // positives, so the selected rank's value is engine-identical.
    "bitext_margin_floor_derived" ->
      s"""WITH $bitextBruteCandCtes,
flo AS (
  SELECT max(margin_micro) AS fl FROM (
    SELECT margin_micro,
      row_number() OVER (ORDER BY margin_micro ASC) AS rn,
      count(*) OVER () AS cnt
    FROM cand WHERE margin_micro >= 1) t
  WHERE rn <= CAST(ceil(0.9 * cnt) AS BIGINT))
SELECT sid AS src_id, tid AS tgt_id, cos_e4, CAST(margin_micro AS BIGINT) AS margin_micro
FROM cand, flo WHERE margin_micro >= fl
ORDER BY src_id, tgt_id""",

    // the approximate seam: per-side 8x8 sequential-plane bucket
    // tables, cross-side collisions as the candidate lists, then the
    // identical integer margin over the LSH-ranked top-4
    "bitext_margin_mine_lsh" ->
      s"""WITH planes(t, bit, plane) AS (VALUES
${DedupQueries.embLshPlanes(8, 8)}),
buckets AS (
  SELECT e.vec_id, e.vec_id % 2 AS side, p.t,
    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, $Dim),
        i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
      THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END) AS BIGINT) AS b
  FROM embeddings e CROSS JOIN planes p
  WHERE ${normPosSql("e")}
  GROUP BY 1, 2, 3),
coll AS (
  SELECT DISTINCT s.vec_id AS sid, t2.vec_id AS tid
  FROM buckets s JOIN buckets t2 ON s.t = t2.t AND s.b = t2.b
    AND s.side = 0 AND t2.side = 1),
scored AS (
  SELECT sid, tid, ${cosSql("a", "b")} AS cos
  FROM coll JOIN embeddings a ON a.vec_id = sid
            JOIN embeddings b ON b.vec_id = tid),
fwd AS (SELECT sid, tid, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS cos_e4,
  row_number() OVER (PARTITION BY sid ORDER BY cos DESC, tid ASC) AS r FROM scored),
bwd AS (SELECT tid, sid, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS cos_e4,
  row_number() OVER (PARTITION BY tid ORDER BY cos DESC, sid ASC) AS r FROM scored),
nna AS (SELECT sid, sum(cos_e4) AS sum_a, count(*) AS cnt_a FROM fwd WHERE r <= 4 GROUP BY 1),
nnb AS (SELECT tid, sum(cos_e4) AS sum_b, count(*) AS cnt_b FROM bwd WHERE r <= 4 GROUP BY 1),
cand AS (
  SELECT f.sid, f.tid, f.cos_e4,
    2*f.cos_e4*cnt_a*cnt_b*1000000 // (sum_a*cnt_b + sum_b*cnt_a) AS margin_micro
  FROM fwd f JOIN nna USING (sid) JOIN nnb USING (tid)
  WHERE f.r <= 4 AND (sum_a*cnt_b + sum_b*cnt_a) > 0)
SELECT sid AS src_id, tid AS tgt_id, cos_e4, CAST(margin_micro AS BIGINT) AS margin_micro
FROM cand WHERE margin_micro >= 1200000
ORDER BY src_id, tgt_id""",

    // both sides' indexes replayed from their own parity counts
    // (derived width + coupled tables), query-directed coupled probing
    // per direction, exact-cosine ranked k=4 lists, then the identical
    // integer margin tail; probe batching on the Spark side is
    // row-invisible (per-query top-k is batch-independent)
    "bitext_margin_mine_indexed" ->
      s"""WITH planes_all(t, bit, plane) AS (VALUES
${DedupQueries.embLshPlanesPrefix(32, 24)}),
${bitextSideSigsCtes("f", 1)},
${bitextSideSigsCtes("g", 0)},
${bitextCandSql("cand_f", "f", 0)},
${bitextCandSql("cand_g", "g", 1)},
scored_f AS (
  SELECT qid AS sid, nid AS tid, ${cosSql("a", "b")} AS cos
  FROM cand_f JOIN embeddings a ON a.vec_id = qid
              JOIN embeddings b ON b.vec_id = nid),
scored_g AS (
  SELECT qid AS tid, nid AS sid, ${cosSql("a", "b")} AS cos
  FROM cand_g JOIN embeddings a ON a.vec_id = qid
              JOIN embeddings b ON b.vec_id = nid),
fwd AS (SELECT sid, tid, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS cos_e4,
  row_number() OVER (PARTITION BY sid ORDER BY cos DESC, tid ASC) AS r FROM scored_f),
bwd AS (SELECT tid, sid, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS cos_e4,
  row_number() OVER (PARTITION BY tid ORDER BY cos DESC, sid ASC) AS r FROM scored_g),
nna AS (SELECT sid, sum(cos_e4) AS sum_a, count(*) AS cnt_a FROM fwd WHERE r <= 4 GROUP BY 1),
nnb AS (SELECT tid, sum(cos_e4) AS sum_b, count(*) AS cnt_b FROM bwd WHERE r <= 4 GROUP BY 1),
cand AS (
  SELECT f.sid, f.tid, f.cos_e4,
    2*f.cos_e4*cnt_a*cnt_b*1000000 // (sum_a*cnt_b + sum_b*cnt_a) AS margin_micro
  FROM fwd f JOIN nna USING (sid) JOIN nnb USING (tid)
  WHERE f.r <= 4 AND (sum_a*cnt_b + sum_b*cnt_a) > 0)
SELECT sid AS src_id, tid AS tgt_id, cos_e4, CAST(margin_micro AS BIGINT) AS margin_micro
FROM cand WHERE margin_micro >= 1200000
ORDER BY src_id, tgt_id"""
  )
}
