package graft

import graft.ext.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._

/** Contracts of the persisted ANN indexes (graft.ext.AnnIndex): the
  * indexed probe must answer the in-flight operator's contract
  * EXACTLY (same planes/buckets/probes ⇒ same pairs, scores, ranks),
  * the IVF layout must push the probed-list union down to the scan as
  * a partition filter, and the meta must round-trip and fail fast on a
  * kind mismatch.
  */
class AnnIndexSpec extends SparkSuite {

  private val K = 5

  /** 300 seeded 64-dim vectors (ids 0..299) + one zero-norm row (id
    * 999) — large enough for real bucket structure, small enough to
    * run in seconds; the zero vector pins the build-time exclusion.
    */
  private lazy val emb = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    } :+ (999L, Array.fill(64)(0.0f))
    rows.toDF("vec_id", "embedding").coalesce(2)
  }

  private lazy val queries = emb.filter(col("vec_id") < 8)

  private def collectTopK(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("query_id", "rank", "neighbor_id", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("lshTopKIndexed answers the in-flight adaptive lshTopK exactly") {
    val dir = tempDir("ann-lsh-index")
    val n = emb.count()
    val meta = AnnIndex.lshIndexWrite(emb, "vec_id", "embedding", dir, n = n)
    // meta round-trips
    assert(AnnIndex.lshMeta(spark, dir) == meta)
    val direct = collectTopK(
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", K, n = n))
    val indexed = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    assert(indexed.nonEmpty && indexed == direct)
    // the zero-norm row was excluded at build: not in vectors/, never a
    // neighbor
    val vecIds = spark.read.parquet(s"$dir/vectors")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!vecIds.contains(999L) && vecIds.size == 300)
    assert(!indexed.exists(_._3 == 999L))
  }

  test("ivfTopKIndexed answers the in-flight adaptive ivfTopK exactly") {
    val dir = tempDir("ann-ivf-index")
    val n = emb.count()
    val meta = AnnIndex.ivfIndexWrite(emb, "vec_id", "embedding", dir, n = n)
    assert(AnnIndex.ivfMeta(spark, dir) == meta)
    assert(meta.lists == Similarity.adaptiveIvfLists(n) &&
      meta.nProbe == Similarity.adaptiveIvfProbes(meta.lists))
    val direct = collectTopK(
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", K, n = n))
    val indexed = collectTopK(
      AnnIndex.ivfTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    assert(indexed.nonEmpty && indexed == direct)
  }

  test("ivf probe pushes the probed-list union down as a partition filter") {
    val dir = tempDir("ann-ivf-prune")
    AnnIndex.ivfIndexWrite(emb, "vec_id", "embedding", dir, n = emb.count())
    // a single-query batch probes nProbe of the lists — the scan must
    // carry a partition filter on listp, not read the full layout
    val one = AnnIndex.ivfTopKIndexed(spark, dir, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", K)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("listp"),
      plan.take(1200))
    // the layout on disk has far more list partitions than a
    // single-query batch probes — pruning is real, not vacuous
    // (list dirs live under the build's committed batch directory)
    val meta = AnnIndex.ivfMeta(spark, dir)
    val dirs = new java.io.File(s"$dir/lists/batch=c00001").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("listp="))
    assert(dirs > meta.nProbe, s"layout has $dirs list partitions, " +
      s"single-query probe should read only ${meta.nProbe}")
  }

  test("lshIndexAppend: parity with a from-scratch build, hot cap crosses on append") {
    import spark.implicits._
    // base: ids 0..199 random + FIVE copies of one direction D
    // (ids 500..504); batch: ids 200..299 random + SIX more copies of D
    // (ids 505..510). cap 8 ⇒ D's bucket holds 5 ≤ 8 at build but 11
    // > 8 after the append — only a census over the UNION can know.
    val rnd = new scala.util.Random(11L)
    def rv() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val d = rv()
    val base = ((0 until 200).map(i => (i.toLong, rv())) ++
      (500 until 505).map(i => (i.toLong, d.clone()))).toDF("vec_id", "embedding")
    val batch = ((200 until 300).map(i => (i.toLong, rv())) ++
      (505 until 511).map(i => (i.toLong, d.clone()))).toDF("vec_id", "embedding")
    val union = base.union(batch)
    val nFull = 311L

    val dir = tempDir("ann-lsh-append")
    // shape pinned to the TARGET corpus size at build
    val built = AnnIndex.lshIndexWrite(base, "vec_id", "embedding", dir,
      maxBucket = 8, n = nFull)
    assert(built.rows == 205L)
    // no bucket is hot yet (randoms spread thin; D has only 5 members)
    assert(spark.read.parquet(s"$dir/hot/c00001").count() == 0L)

    val appended = AnnIndex.lshIndexAppend(spark, dir, batch, "vec_id", "embedding")
    assert(appended.rows == 311L && appended.n == nFull)
    // D's bucket (all 11 copies share every table's bucket) is now hot
    // the append's recomputed census (epoch token c00002) is the one
    // the committed manifest points probes at
    assert(spark.read.parquet(s"$dir/hot/c00002").count() >= built.tables.toLong)

    val qs = union.filter(col("vec_id") < 8)
    val direct = collectTopK(Similarity.lshTopK(union, qs, "vec_id", "embedding", K,
      maxBucket = 8, n = nFull))
    val indexed = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, qs, "vec_id", "embedding", K))
    assert(indexed.nonEmpty && indexed == direct)
  }

  test("ivfIndexAppend: parity with the in-flight operator on the pinned centroids") {
    val dir = tempDir("ann-ivf-append")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    val n = emb.count()
    val built = AnnIndex.ivfIndexWrite(base, "vec_id", "embedding", dir, n = n)
    val appended = AnnIndex.ivfIndexAppend(spark, dir, batch, "vec_id", "embedding")
    assert(appended.rows == 300L && appended.lists == built.lists)
    val cents = AnnIndex.ivfCentroids(spark, dir)
    assert(cents.size == built.lists)
    val direct = collectTopK(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", K,
      nProbe = built.nProbe, trainedCentroids = Some(cents)))
    val indexed = collectTopK(
      AnnIndex.ivfTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    assert(indexed.nonEmpty && indexed == direct)
  }

  private def collectTopKBy(df: org.apache.spark.sql.DataFrame,
      scoreCol: String): Seq[(Long, Int, Long, Double)] =
    df.select("query_id", "rank", "neighbor_id", scoreCol).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("ivfPqTopKIndexed answers the in-flight adaptive ivfPqTopK exactly") {
    val n = emb.count()
    // trained books (the default) and the hash-seeded stand-in
    // (trainBooks = false) — both codebook paths pinned on both sides
    for (trainBooks <- Seq(true, false)) {
      val dir = tempDir(s"ann-ivfpq-index-$trainBooks")
      val meta = AnnIndex.ivfPqIndexWrite(emb, "vec_id", "embedding", dir, n = n,
        trainBooks = trainBooks)
      assert(AnnIndex.ivfPqMeta(spark, dir) == meta)
      assert(meta.lists == Similarity.adaptiveIvfLists(n) &&
        meta.nProbe == Similarity.adaptiveIvfProbes(meta.lists) &&
        meta.m == 8 && meta.ks == 256 && meta.rows == 300L)  // zero-norm row excluded; ks = r20 default
      val direct = collectTopKBy(
        Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", K, n = n,
          rerank = 0, trainBooks = trainBooks), "adist")
      val indexed = collectTopKBy(
        AnnIndex.ivfPqTopKIndexed(spark, dir, queries, "vec_id", "embedding", K,
          rerank = 0), "adist")
      assert(indexed.nonEmpty && indexed == direct, s"trainBooks = $trainBooks")
      // the probed-list union reaches the compressed scan as a partition
      // filter, like the raw-IVF index
      val one = AnnIndex.ivfPqTopKIndexed(spark, dir, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", K, rerank = 0)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("listp"), plan.take(1200))
      // codes/ carries only the id + m codes — never the raw vectors
      val codeCols = spark.read.parquet(s"$dir/codes/batch=c00001").columns.toSet
      assert(codeCols == (Set("neighbor_id", "listp") ++ (0 until 8).map(i => s"code_$i")),
        codeCols.mkString(","))
    }
  }

  test("ivfPq rerank: indexed refine answers the in-flight refine exactly; cos contract") {
    val dir = tempDir("ann-ivfpq-rerank")
    val n = emb.count()
    AnnIndex.ivfPqIndexWrite(emb, "vec_id", "embedding", dir, n = n)
    val direct = collectTopK(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", K, n = n, rerank = 10))
    val indexed = collectTopK(
      AnnIndex.ivfPqTopKIndexed(spark, dir, queries, "vec_id", "embedding", K,
        rerank = 10, rerankFrom = Some(emb)))
    assert(indexed.nonEmpty && indexed == direct)
    // the refined output speaks the family's cosine contract (desc,
    // in [-1, 1]) — not ADC distance
    assert(direct.forall(t => t._4 <= 1.0001 && t._4 >= -1.0001))
    assert(direct.groupBy(_._1).values.forall(g =>
      g.sortBy(_._2).map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))))
    // rerank without a raw-vector table fails fast
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfPqTopKIndexed(spark, dir, queries, "vec_id", "embedding", K, rerank = 10)
    }
    assert(e.getMessage.contains("rerankFrom"))
    // the DEFAULT entry point derives a rerank too — without the
    // raw-vector table it must fail loud, never silently return the
    // unrefined ADC ordering (the r18 quality-cliff lesson)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.ivfPqTopKIndexed(spark, dir, queries, "vec_id", "embedding", K)
    }
    assert(e2.getMessage.contains("rerankFrom"))
  }

  test("ivfPqIndexAppend: parity with the in-flight operator on the pinned geometry") {
    val dir = tempDir("ann-ivfpq-append")
    val n = emb.count()
    // geometry (centroids + codebooks) pins at build time from the
    // build half; the append encodes only the batch against it. The
    // in-flight operator replays the SAME geometry via its injection
    // seam, so the answers must be frame-identical over the union.
    val built = AnnIndex.ivfPqIndexWrite(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir, n = n)
    val appended = AnnIndex.ivfPqIndexAppend(spark, dir,
      emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
    assert(appended.rows == 300L && appended.lists == built.lists)
    val cents = AnnIndex.ivfCentroids(spark, dir)
    val books = AnnIndex.ivfPqCodebooks(spark, dir)
    val direct = collectTopKBy(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", K,
        nProbe = built.nProbe, trainedCentroids = Some(cents),
        trainedCodebooks = Some(books), rerank = 0), "adist")
    val indexed = collectTopKBy(
      AnnIndex.ivfPqTopKIndexed(spark, dir, queries, "vec_id", "embedding", K,
        rerank = 0), "adist")
    assert(indexed.nonEmpty && indexed == direct)
    // appended rows are probe-visible: a batch-half id can be a neighbor
    assert(indexed.exists(t => t._3 % 2 != 0), indexed.take(10).toString)
  }

  test("probe-side broadcast/shuffle tiers produce identical answers (forced cap)") {
    // the probe explosion (queries × tables × keys) overflows a
    // broadcast past ~256 MB — measured torrent-broadcast death at 1 M
    // corpus × 2 000 queries. probeBroadcastMax = 1 forces the
    // shuffle-hash tier here; answers must be frame-identical and the
    // plans must actually differ.
    val n = emb.count()
    // the probe join must stop being an EXPLICIT broadcast in the
    // forced tier (the fixture is tiny, so the static planner would
    // still auto-broadcast the unhinted join — disable that so the
    // plan shows the tier's own shape); AQE picks shuffle-hash or
    // (spillable) sort-merge from sizes, so assert the broadcast COUNT
    // drops rather than a specific operator
    def bhj(df: org.apache.spark.sql.DataFrame): Int =
      "BroadcastHashJoin".r.findAllIn(df.queryExecution.executedPlan.toString).size
    def nonBroadcastJoin(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin")
    }
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {

    val dflt = Similarity.lshTopK(emb, queries, "vec_id", "embedding", K, n = n)
    val forced = Similarity.lshTopK(emb, queries, "vec_id", "embedding", K, n = n,
      probeBroadcastMax = 1L)
    assert(collectTopK(forced) == collectTopK(dflt))
    assert(bhj(forced) < bhj(dflt) && nonBroadcastJoin(forced),
      forced.queryExecution.executedPlan.toString.take(1200))

    val ivfD = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", K, n = n)
    val ivfF = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", K, n = n,
      probeBroadcastMax = 1L)
    assert(collectTopK(ivfF) == collectTopK(ivfD))
    assert(bhj(ivfF) < bhj(ivfD) && nonBroadcastJoin(ivfF))

    val dir = tempDir("ann-tier-parity")
    AnnIndex.lshIndexWrite(emb, "vec_id", "embedding", dir, n = n)
    val idxD = AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K)
    val idxF = AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K,
      probeBroadcastMax = 1L)
    assert(collectTopK(idxF) == collectTopK(idxD))
    assert(bhj(idxF) < bhj(idxD) && nonBroadcastJoin(idxF))

    val dirI = tempDir("ann-tier-parity-ivf")
    AnnIndex.ivfIndexWrite(emb, "vec_id", "embedding", dirI, n = n)
    val ivfIdxD = AnnIndex.ivfTopKIndexed(spark, dirI, queries, "vec_id", "embedding", K)
    val ivfIdxF = AnnIndex.ivfTopKIndexed(spark, dirI, queries, "vec_id", "embedding", K,
      probeBroadcastMax = 1L)
    assert(collectTopK(ivfIdxF) == collectTopK(ivfIdxD))
    assert(bhj(ivfIdxF) < bhj(ivfIdxD) && nonBroadcastJoin(ivfIdxF))

    // the in-flight IVF cap sizes probe rows from the centroid dim
    // (40 + 4·dim bytes, like the indexed probe): at 512 dims a cap
    // between a dim-64-sized row (304 B) and the real 2 088 B row
    // must already leave the broadcast tier
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val wide = (0 until 300).map(i => (i.toLong, Array.fill(512)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").coalesce(2)
    val wideQ = wide.filter(col("vec_id") < 8)
    val probes = Similarity.adaptiveIvfProbes(Similarity.adaptiveIvfLists(300L))
    val between = 8L * probes * 1000L
    assert(between / (probes * 304L) >= 8L && between / (probes * (40L + 4L * 512)) < 8L)
    val wideD = Similarity.ivfTopK(wide, wideQ, "vec_id", "embedding", K, n = 300L)
    val wideF = Similarity.ivfTopK(wide, wideQ, "vec_id", "embedding", K, n = 300L,
      probeBroadcastMax = between)
    assert(collectTopK(wideF) == collectTopK(wideD))
    assert(bhj(wideF) < bhj(wideD) && nonBroadcastJoin(wideF),
      wideF.queryExecution.executedPlan.toString.take(1200))
    }
  }

  test("ivfPqIndexWrite persists trained codebooks; indexed probe matches in-flight trained") {
    val dir = tempDir("ann-ivfpq-trained")
    val n = emb.count()
    val books = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding", iters = 2)
    AnnIndex.ivfPqIndexWrite(emb, "vec_id", "embedding", dir, n = n,
      trainedCodebooks = Some(books))
    // the persisted books round-trip exactly (parquet doubles are exact)
    assert(AnnIndex.ivfPqCodebooks(spark, dir).flatten.flatten.toSeq ==
      books.flatten.flatten.toSeq)
    val direct = collectTopK(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", K, n = n,
        trainedCodebooks = Some(books)))
    val indexed = collectTopK(
      AnnIndex.ivfPqTopKIndexed(spark, dir, queries, "vec_id", "embedding", K,
        rerankFrom = Some(emb)))
    assert(indexed.nonEmpty && indexed == direct)
  }

  test("a torn append (killed before the manifest commit) is invisible; a retry heals it") {
    val dir = tempDir("ann-lsh-torn")
    val n = emb.count()
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.lshIndexWrite(evens, "vec_id", "embedding", dir, n = n)
    val metaBefore = AnnIndex.lshMeta(spark, dir)
    val before = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    // simulate the kill window the r18 verdict flagged: the append's
    // SIGS landed on disk but the vectors write and the manifest
    // commit never happened — exactly what lshIndexAppend would have
    // written first, then a crash
    val planes = Similarity.hyperplanesPrefix(
      metaBefore.tables, metaBefore.bits, metaBefore.dim, metaBefore.seed)
    odds.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .filter(graft.functions.VectorOps.norm(col("cv")) > 0)
      .select(col("neighbor_id"),
        posexplode(graft.functions.AnnExprs.lshBuckets(col("cv"), planes)).as(Seq("t", "b")))
      .write.mode("overwrite").parquet(s"$dir/sigs/batch=c00002")
    // the torn sigs are orphans: the probe answers from the OLD index —
    // identical frame, no signature rows whose candidates vanish at the
    // rehydrate join, meta unchanged
    assert(AnnIndex.lshMeta(spark, dir) == metaBefore)
    val afterTear = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    assert(afterTear == before, "a torn append changed probe answers")
    // a RETRIED append overwrites the torn leftovers and commits — full
    // parity with the in-flight operator over the union
    AnnIndex.lshIndexAppend(spark, dir, odds, "vec_id", "embedding")
    val healed = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    val direct = collectTopK(
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", K, n = n))
    assert(healed == direct, "retried append diverged from from-scratch semantics")
  }

  test("a commit for an already-committed epoch fails loud, never last-wins") {
    // r20 ADVICE (medium): FileSystem.rename on the LOCAL filesystem is
    // POSIX rename(2) — it silently replaces an existing destination and
    // returns true, so the no-clobber contract needs an explicit exists
    // probe. Re-running the commit step of the already-committed epoch
    // (a retry of a completed mutation, or the second of two writers
    // racing from the same base manifest) must REFUSE, and the
    // committed manifest must survive byte-for-byte.
    val dir = tempDir("ann-lsh-clobber")
    val n = emb.count()
    AnnIndex.lshIndexWrite(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir, n = n)
    val committed = new java.io.File(s"$dir/meta", "commit-c00001")
    assert(committed.isFile)
    val bodyBefore = java.nio.file.Files.readAllBytes(committed.toPath)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.recommitNewestForTest(spark, dir)
    }
    assert(ex.getMessage.contains("already exists"))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(committed.toPath), bodyBefore),
      "the committed manifest was clobbered")
    // the refusal path must not leave its temp file behind (r21 ADVICE)
    assert(!new java.io.File(s"$dir/meta", ".tmp-c00001").exists(),
      "refused commit left its .tmp file in meta/")
  }

  test("lshIndexCompact folds appends into one generation; vacuum drops the superseded dirs") {
    val dir = tempDir("ann-lsh-compact")
    val n = emb.count()
    val thirds = (0 until 3).map(i => emb.filter(col("vec_id") % 3 === i))
    AnnIndex.lshIndexWrite(thirds(0), "vec_id", "embedding", dir, n = n)
    AnnIndex.lshIndexAppend(spark, dir, thirds(1), "vec_id", "embedding")
    AnnIndex.lshIndexAppend(spark, dir, thirds(2), "vec_id", "embedding")
    val before = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    def batchDirs(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(batchDirs("sigs").length == 3 && batchDirs("vectors").length == 3)
    val meta = AnnIndex.lshIndexCompact(spark, dir)
    assert(meta.rows == 300L) // zero-norm row excluded at every ingest
    // probe is row-identical over the compacted generation
    val after = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    assert(after == before, "compaction changed probe answers")
    // a second compact is a no-op (already single-generation)
    assert(AnnIndex.lshIndexCompact(spark, dir) == meta)
    // vacuum removes everything the current manifest no longer
    // references: 3 superseded sigs + 3 vectors generations + 3 stale
    // hot censuses
    val removed = AnnIndex.vacuum(spark, dir)
    assert(removed == 9, s"vacuum removed $removed dirs")
    assert(batchDirs("sigs").toSeq == Seq("batch=c00004") &&
      batchDirs("vectors").toSeq == Seq("batch=c00004"))
    val afterVacuum = collectTopK(
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K))
    assert(afterVacuum == before, "vacuum changed probe answers")
  }

  test("probe fails fast once stored rows outgrow the build-time shape n by >10x") {
    val dir = tempDir("ann-lsh-stale")
    // shape pinned at a deliberately tiny n — the derived signature
    // width assumes occupancy at 20 vectors
    AnnIndex.lshIndexWrite(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      dir, n = 20L)
    AnnIndex.lshIndexAppend(spark, dir,
      emb.filter(col("vec_id") >= 20 && col("vec_id") < 900), "vec_id", "embedding")
    assert(AnnIndex.lshMeta(spark, dir).rows == 300L)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.lshTopKIndexed(spark, dir, queries, "vec_id", "embedding", K)
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("reading an index of the wrong kind fails fast") {
    val dir = tempDir("ann-kind-mismatch")
    AnnIndex.lshIndexWrite(emb, "vec_id", "embedding", dir, n = emb.count())
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfMeta(spark, dir)
    }
    assert(e.getMessage.contains("kind"))
  }

  test("manifest selection is numeric on the epoch: c100000 beats c99999 past the padding width") {
    val dir = tempDir("ann-lsh-epoch")
    AnnIndex.lshIndexWrite(emb, "vec_id", "embedding", dir, n = emb.count())
    // hand-commit two future manifests straddling the 5-digit padding
    // boundary (an index after ~100k mutations): lexicographic max
    // picks "commit-c99999" (`9` > `1`), i.e. a STALE manifest whose
    // view vacuum would then enforce by deleting the newer batches —
    // the reader must parse the number (r19 advice)
    val metaDir = new java.io.File(s"$dir/meta")
    val real = metaDir.listFiles().filter(_.getName.startsWith("commit-")).head
    val body = new String(java.nio.file.Files.readAllBytes(real.toPath), "UTF-8")
    def forked(epoch: Int, rows: Long): String = body.split("\n").map { l =>
      if (l.startsWith("epoch=")) s"epoch=$epoch"
      else if (l.startsWith("rows=")) s"rows=$rows"
      else l
    }.mkString("\n")
    java.nio.file.Files.write(new java.io.File(metaDir, "commit-c99999").toPath,
      forked(99999, 111L).getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(metaDir, "commit-c100000").toPath,
      forked(100000, 222L).getBytes("UTF-8"))
    assert(AnnIndex.lshMeta(spark, dir).rows == 222L,
      "manifest selection resolved a stale epoch past the padding width")
  }

  test("the flat-vs-coupled probe shape uses the raw corpus count on both paths") {
    // the indexed side's auto-shape basis must be the manifest's RAW
    // count (zero-norm rows included), the same basis the in-flight
    // operator counts — emb carries one zero-norm row, so a mismatch
    // here is what the r19 advice flagged; rawRows must also survive
    // an append (raw batch counts, not positive-norm)
    val dir = tempDir("ann-lsh-rawrows")
    val evens = emb.filter(col("vec_id") % 2 === 0) // zero-norm 999 is odd
    val odds = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.lshIndexWrite(evens, "vec_id", "embedding", dir, n = emb.count())
    AnnIndex.lshIndexAppend(spark, dir, odds, "vec_id", "embedding")
    val fields = {
      val metaDir = new java.io.File(s"$dir/meta")
      val latest = metaDir.listFiles().filter(_.getName.startsWith("commit-"))
        .maxBy(f => f.getName.stripPrefix("commit-c").toLong)
      new String(java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
        .split("\n").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    }
    // 301 = 300 positive-norm + the zero-norm row — the raw basis the
    // in-flight operator would count over the union, NOT the 452 a
    // shape-sizing-n seed would have double-counted to
    assert(fields("rawRows").toLong == 301L, s"raw count drifted: $fields")
    assert(fields("rows").toLong == 300L, s"stored count drifted: $fields")
  }
}
