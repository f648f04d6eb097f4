package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design notes (100 TB target):
  *  - [[bruteForceTopK]] broadcasts the query vector and runs one narrow
  *    scan + a tree-reduced top-k (TakeOrdered) — no shuffle of the corpus;
  *    it is the exact baseline.
  *  - [[signLshBuckets]] assigns each vector to a random-hyperplane bucket
  *    computed scan-side from deterministic hash-derived projections; an
  *    ANN query then touches only matching buckets (a broadcast-join probe
  *    instead of a full scan). Recall is tunable via `planes` (fewer planes
  *    → bigger buckets → higher recall, more compute).
  *  - all vector math accumulates left-to-right in Double, matching the
  *    engine-independent sequential fold the DuckDB oracle uses.
  */
object Similarity {

  /** call_function on a graft_* expression, auto-registering in the
    * active session first (idempotent).
    */
  private def graftFn(name: String, args: Column*): Column =
    graft.functions.GraftFunctions.fn(name, args: _*)

  /** Dot product in Double (sequential fold — custom codegen'd expression,
    * bit-identical to the `aggregate(zip_with(...))` formulation it
    * replaced but ~50× cheaper per row; see graft.functions).
    */
  def dotProduct(a: Column, b: Column): Column = graftFn("graft_dot", a, b)

  /** L2 norm in Double. */
  def l2Norm(a: Column): Column = graftFn("graft_norm", a)

  /** Cosine similarity, computed as dot/(|a|*|b|) like the oracle (one
    * fused kernel pass; per-accumulator fold order unchanged).
    */
  def cosine(a: Column, b: Column): Column = graftFn("graft_cosine", a, b)

  /** Exact top-k nearest neighbors of the vector with id `queryId` by
    * cosine similarity. The query row is broadcast; the corpus is scanned
    * once with no shuffle (top-k is a TakeOrdered, not a sort).
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    Dedup.spread(emb).where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** Exact top-k neighbors for a whole SET of query vectors in one job —
    * the retrieval-evaluation shape (every eval query needs its
    * neighbors, not just one). The query set broadcasts (it is
    * eval-sized, not corpus-sized); the corpus is scanned ONCE for all
    * queries; per-query ranking is a windowed top-k over (query, corpus)
    * scores, which shuffles only score rows (queries × corpus of
    * (id, id, double) — prune the corpus or batch the query set if that
    * product is too large, never the vectors themselves).
    */
  /** Self-exclusion for batch top-k: drop a candidate only when it IS
    * the query row — applied only when the two id columns share a type.
    * With different id domains a query cannot be a corpus row, and
    * ANSI's cross-type `=!=` coercion would throw on non-numeric ids
    * instead of comparing.
    */
  private def excludeSelf(scored: DataFrame, idCol: String,
      emb: DataFrame, queries: DataFrame, queryIdCol: String): DataFrame =
    if (emb.schema(idCol).dataType == queries.schema(queryIdCol).dataType)
      scored.where(col(idCol) =!= col("query_id"))
    else scored

  def bruteForceTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec")))
    val scored = excludeSelf(Dedup.spread(emb).crossJoin(q),
        idCol, emb, queries, queryIdCol)
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("__qvec")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Hard-negative mining for contrastive training: for each anchor in
    * `anchors`, the `m` most-cosine-similar corpus vectors whose label
    * DIFFERS from the anchor's — the near-miss examples a retrieval/
    * embedding model learns the most from. Ties break to the smaller
    * corpus id so the cut is deterministic cross-engine.
    *
    * Same scale contract as [[bruteForceTopKBatch]]: the anchor set is
    * eval-sized and broadcasts; the corpus is scanned once; only
    * (anchor, candidate, score) rows — never vector payloads — reach the
    * per-anchor top-m window. For corpus-sized anchor sets, pre-bucket
    * both sides with [[signLshBuckets]] and apply the same label-mismatch
    * predicate within buckets instead.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchors: DataFrame, m: Int): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("__avec"), col(labelCol).as("__albl")))
    val scored = Dedup.spread(emb)
      .crossJoin(a)
      .where(col(labelCol) =!= col("__albl"))
      .select(col("anchor_id"), col(idCol).as("negative_id"),
        col(labelCol).as("negative_label"),
        cosine(col(vecCol), col("__avec")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(desc("cosine"), col("negative_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= m)
  }

  /** All pairs above a cosine threshold (embedding near-dup detection).
    * Quadratic — at scale, run [[signLshBuckets]] first and pair within
    * buckets only.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // Norms are computed once per vector (N of them), not once per pair
    // (N²); dot/(na·nb) yields the same doubles as the fused cosine.
    val a = Dedup.spread(emb).select(col(idCol).as("idA"), col(vecCol).as("__va"),
      l2Norm(col(vecCol)).as("__na"))
    val b = emb.select(col(idCol).as("idB"), col(vecCol).as("__vb"),
      l2Norm(col(vecCol)).as("__nb"))
    a.crossJoin(b)
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        (dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** Scale path for embedding near-dup: multi-band sign-LSH candidate
    * generation (the MinHash-banding shape) + exact cosine verification.
    * One (band, key) shuffle carrying only ids, a streamed self-join
    * within capped buckets, then a join back to the vectors — never an
    * all-pairs cross join, and the `bands`-way explosion never carries
    * vector payloads. Every emitted pair is exact-cosine-verified, so
    * precision is 1.0 relative to [[cosineNearDupPairs]] by
    * construction; the md5-derived plane basis makes the full candidate
    * set reproducible in the DuckDB oracle (q50 hash-checks this exact
    * plan).
    *
    * SIZE THE KEY SPACE: unlike MinHash banding (64-bit keys), sign-LSH
    * has exactly 2^planesPerBand buckets per band, and buckets over
    * `maxBucket` are DROPPED (their pairs sacrificed — the cap bounds
    * the quadratic within-bucket blowup). Choose planesPerBand ≈
    * log2(N / targetBucketSize) — e.g. ~24 planes for 10⁸ vectors at
    * ~6k/bucket — and add bands to buy recall back; the defaults here
    * fit the 10³–10⁵ test scales.
    */
  def cosineNearDupPairsBucketed(emb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, planesPerBand: Int = 8,
      bands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    val src = Dedup.spread(emb)
    val keyed = src.select(col(idCol).as("__id"),
      posexplode(graftFn("graft_lsh_bands", col(vecCol),
        lit(planesPerBand), lit(bands))).as(Seq("band", "key")))
    // Candidate pairs stream out of a codegen'd self-join on the bucket
    // key (one shuffle of skinny (band, key, id) rows; the count-agg cap
    // rides the same exchange — see CapMetrics.cappedByCount for why a
    // windowed cap is a memory hazard here). An inline collect_list +
    // nested-transform pair emission benchmarked ~2× slower here:
    // Catalyst HOF lambdas interpret per element, and cosine buckets are
    // many-and-shallow — unlike MinHash's few-and-deep buckets, where
    // one pass beats a join.
    // both self-join legs re-execute the cap filter, so a dropped bucket
    // can tally twice (or once, when adaptive empty-propagation elides a
    // leg) — an uncounted second leg is WORSE: AQE may materialize it
    // first and skip the counted leg entirely, silencing the alarm
    // (measured). At-least-once beats exactly-never.
    val capped = CapMetrics.cappedByCount(keyed,
      "cosine_neardup_bucketed", Seq("band", "key"), maxBucket)
    val cands = capped.select(col("band"), col("key"), col("__id").as("idA"))
      .join(capped.select(col("band"), col("key"), col("__id").as("idB")),
        Seq("band", "key"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .distinct()
    val vecs = src.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n"))
    cands
      .join(vecs.select(col("__vid").as("idA"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("idA"))
      .join(vecs.select(col("__vid").as("idB"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("idB"))
      .select(col("idA"), col("idB"),
        (dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** Per-dimension embedding profile: value range and zero counts for
    * every vector component — the dead-dimension / scale-imbalance QA
    * that [[embeddingQa]]'s whole-vector checks can't see (a dimension
    * that is 0 in every vector, or 100× the others' range, breaks
    * downstream quantization and distance geometry). Min/max/counts
    * only — exact on identical floats, no order-dependent sums.
    *
    * Scale: one posexplode (rows × dim — map-side combined into a
    * dim-sized aggregate before any exchange).
    *
    * @return `dim (1-based), n, n_zero, min_v, max_v`
    */
  def dimensionProfile(emb: DataFrame, vecCol: String): DataFrame =
    Dedup.spread(emb)
      .select(posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .select((col("__d") + 1).as("dim"), col("__v").cast("double").as("__v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))

  /** Approximate kNN graph: every vector's top-`k` nearest neighbors
    * among its sign-LSH bucket collisions, exact-cosine ranked — the
    * corpus-wide neighbor structure clustering, SemDeDup-style audits,
    * and diversity analyses consume. Unlike [[annTopKBatch]] (broadcast
    * query set), both sides here are the corpus: candidates stream out
    * of a bucketed self-equi-join, never a cross join.
    *
    * Scale: one skinny (band, key, id) shuffle for bucketing; the
    * candidate join is per-bucket with capped fan-out; the top-k cut is
    * a per-id window (keyed — no global sort). Recall is governed by
    * the band geometry exactly as for [[cosineNearDupPairsBucketed]];
    * vectors sharing no bucket with anything have no row (an isolated
    * point has no approximate neighbors by construction).
    *
    * @return `id, neighbor_id, cosine, rank` with `rank` 1..k ordered
    *         by cosine descending, ties to the lower neighbor id
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      planesPerBand: Int = 8, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val src = Dedup.spread(emb)
    val keyed = src.select(col(idCol).as("__id"),
      posexplode(graftFn("graft_lsh_bands", col(vecCol),
        lit(planesPerBand), lit(bands))).as(Seq("band", "key")))
    val capped = CapMetrics.cappedByCount(keyed,
      "knn_graph", Seq("band", "key"), maxBucket)
    val cands = capped.select(col("band"), col("key"), col("__id").as("id"))
      .join(capped.select(col("band"), col("key"),
        col("__id").as("neighbor_id")), Seq("band", "key"))
      .where(col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"))
      .distinct()
    val vecs = src.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n"))
    cands
      .join(vecs.select(col("__vid").as("id"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("id"))
      .join(vecs.select(col("__vid").as("neighbor_id"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        (dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
  }

  /** Incremental embedding near-dup: batch vectors whose cosine with some
    * existing corpus vector exceeds `threshold`, found via sign-LSH band
    * key collisions BETWEEN the sides — the embedding twin of
    * [[Dedup.incrementalNearDups]] for continuous ingest (drop or link
    * batch vectors that re-embed existing content).
    *
    * Scale: band keys are computed scan-side on both sides
    * (`graft_lsh_bands`, one fused pass per vector); the join is an
    * equi-join on (band, key). Precompute the corpus's band keys once and
    * store them bucketed by (band, key) ([[graft.io.Layouts]]) — then
    * only the batch side shuffles, and the 100 TB corpus key table is a
    * co-partitioned build side reused by every future batch. Corpus
    * buckets over `maxBucket` are dropped (bounding per-key fan-out);
    * size `planesPerBand` ≈ log2(corpus / targetBucketSize) as for
    * [[cosineNearDupPairsBucketed]]. Every candidate is exact-cosine
    * verified against the float vectors.
    *
    * @return (idA = batch id, idB = corpus id, cosine > threshold)
    */
  def incrementalCosineNearDups(batch: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      planesPerBand: Int = 8, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame =
    // UNCAPPED keys here, not corpusLshKeys: the probe-time re-cap in
    // incrementalCosineNearDupsWithKeys drops exactly the over-cap
    // groups among the probed keys, so a build-time cap on the inline
    // path is pure redundant work — it cost a full-corpus groupBy +
    // anti-join (each leg re-running the LSH kernel over the corpus)
    // to drop groups the probe cap would drop anyway. corpusLshKeys
    // keeps its cap for the build-once-store-bucketed workflow, where
    // capping at build time is paid once for many probes.
    incrementalCosineNearDupsWithKeys(batch,
      lshKeys(Dedup.spread(corpus), idCol, vecCol, planesPerBand, bands),
      corpus, idCol, vecCol, threshold, planesPerBand, bands, maxBucket)

  /** The uncapped `(idCol, band, key)` sign-LSH projection every keyed
    * path derives from — ONE definition so the capped build, the inline
    * probe, and the batch side can never desynchronize on key shape.
    */
  private def lshKeys(df: DataFrame, idCol: String, vecCol: String,
      planesPerBand: Int, bands: Int): DataFrame =
    df.select(col(idCol),
      posexplode(graftFn("graft_lsh_bands", col(vecCol),
        lit(planesPerBand), lit(bands))).as(Seq("band", "key")))

  /** The corpus's capped `(idCol, band, key)` sign-LSH key table — the
    * embedding twin of [[Dedup.corpusBandKeys]]: build once, store,
    * probe with [[incrementalCosineNearDupsWithKeys]] so the 100 TB
    * embedding corpus is never re-hashed or re-shuffled per batch.
    * Over-cap buckets are dropped (and counted) at build time. Store
    * layout: plain parquet, as for the text twin.
    */
  def corpusLshKeys(corpus: DataFrame, idCol: String, vecCol: String,
      planesPerBand: Int = 8, bands: Int = 4,
      maxBucket: Int = 10000): DataFrame =
    CapMetrics.cappedByCount(
        lshKeys(Dedup.spread(corpus), idCol, vecCol, planesPerBand, bands),
        "incremental_cosine_corpus", Seq("band", "key"), maxBucket)

  /** [[incrementalCosineNearDups]] against a PRECOMPUTED (usually
    * persisted and bucketed) corpus key table: only the batch side
    * computes signatures and shuffles; the corpus contributes the key
    * table as a build side plus one narrow vector scan for exact-cosine
    * verification of the candidate sliver. Stored buckets are RE-CAPPED
    * at probe time — appended increments can accumulate a hot key past
    * any single build's cap (see [[Dedup.incrementalNearDupsWithKeys]]).
    */
  def incrementalCosineNearDupsWithKeys(batch: DataFrame,
      corpusKeys: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double, planesPerBand: Int = 8,
      bands: Int = 4, maxBucket: Int = 10000): DataFrame = {
    val batchKeys = lshKeys(Dedup.spread(batch), idCol, vecCol,
        planesPerBand, bands)
      .withColumnRenamed(idCol, "idA")
    val cands = probeCosineCandidates(batchKeys, corpusKeys, idCol,
      maxBucket)
    verifyCosineCandidates(batch, cands, corpus, idCol, vecCol, threshold)
  }

  /** Candidate generation of the keyed cosine probe — the stored table
    * is restricted to the batch's probed key set BEFORE the re-cap
    * window (see [[Dedup.incrementalNearDupsWithKeys]]): the window
    * then runs over a batch-sized sliver, never the corpus-sized table.
    */
  private def probeCosineCandidates(batchKeys0: DataFrame,
      corpusKeys: DataFrame, idCol: String, maxBucket: Int): DataFrame = {
    // Same lazy pins as Dedup.probeCandidates (see pinSmall's scaladoc):
    // every frame is batch-proportional, and each was referenced twice
    // downstream — unpinned, Catalyst re-inlined the LSH kernel subtree
    // per reference (plans/r14/q74_*_before.txt: 12 scans / 20 exchanges).
    val batchKeys = Dedup.pinSmall(batchKeys0)
    val probed = Dedup.pinSmall(corpusKeys.join(
      broadcast(batchKeys.select(col("band"), col("key")).distinct()),
      Seq("band", "key"), "left_semi"))
    val cappedKeys = CapMetrics.cappedByCount(probed,
      "incremental_cosine_corpus", Seq("band", "key"), maxBucket)
    Dedup.pinSmall(batchKeys
      .join(cappedKeys.select(col(idCol).as("idB"), col("band"), col("key")),
        Seq("band", "key"))
      .select(col("idA"), col("idB"))
      .distinct())
  }

  /** Verification stage of the keyed cosine probe: the corpus side is
    * semi-joined down to the distinct candidate vectors before the norm
    * kernel runs — kernel work is min(candidate docs, corpus), never
    * corpus- or pair-proportional (see
    * [[Dedup.incrementalNearDupsWithKeys]]).
    */
  private def verifyCosineCandidates(batch: DataFrame, cands: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val corpusVecs = corpus
      .join(cands.select(col("idB").as(idCol)).distinct(), Seq(idCol),
        "left_semi")
      .select(col(idCol).as("idB"), col(vecCol).as("__vb"),
        l2Norm(col(vecCol)).as("__nb"))
    cands
      .join(batch.select(col(idCol).as("idA"), col(vecCol).as("__va"),
        l2Norm(col(vecCol)).as("__na")), Seq("idA"))
      .join(corpusVecs, Seq("idB"))
      .select(col("idA"), col("idB"),
        (dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** Cluster-balanced ("diverse") sampling: cap every IVF cell at
    * `perCell` vectors, deterministically (the [[graft.ops.Sampling
    * .stratifiedTake]] md5 order) — dense embedding regions are
    * downsampled, sparse regions survive whole, so the selected subset
    * COVERS the space instead of mirroring its density. The
    * cluster-then-cap diversity selection used when a corpus
    * over-represents a few modes (boilerplate-heavy web data) and
    * uniform sampling would too.
    *
    * Scale: the centroid model is plan-literal ([[ivfAssign]] — one
    * narrow scan assigns cells); the cap is one window over the cell
    * key. Nothing vector-sized shuffles except the (cell, md5) window
    * exchange of selected columns.
    */
  def diverseSample(emb: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, perCell: Int): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, numCentroids)
    Sampling.stratifiedTake(ivfAssign(emb, vecCol, cents), "centroid_id",
      idCol, perCell)
  }

  /** Embedding-table QA report per `labelCol` group: the integrity check
    * run before an ANN index build or a release hand-off — dimension
    * consistency, zero vectors (a failed encoder emits them silently)
    * and unit-norm discipline.
    *
    * All report columns are integer counts; the unit-norm test compares
    * ‖v‖² to 1 with a margin (`normTol`) orders of magnitude above
    * float ulps, so the whole report is cross-engine hash-checkable.
    * One narrow scan, one group-key aggregate — no shuffle carries
    * vectors.
    *
    * @return `label, n_vecs, n_dim_ok, n_zero, n_unit`
    */
  def embeddingQa(emb: DataFrame, vecCol: String, labelCol: String,
      expectedDim: Int, normTol: Double = 1e-3): DataFrame = {
    val v = col(vecCol)
    val nsq = dotProduct(v, v)
    emb.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(size(v) === expectedDim, 1L).otherwise(0L)).as("n_dim_ok"),
        // Σx² = 0 ⟺ every component is exactly 0 (squares cannot cancel)
        sum(when(nsq === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(abs(nsq - 1.0) <= normTol, 1L).otherwise(0L)).as("n_unit"))
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * format for a 100 TB embedding table (4× smaller than float32, 8×
    * than float64; IVF/LSH candidate generation runs on quantized
    * vectors, exact re-ranking on the float originals). Adds
    * `scale = absmax/127` (float) and `qvec` (array<tinyint>,
    * `round-half-up(x/scale)`); all-zero vectors get scale 0 and zero
    * codes. Deterministic double arithmetic (floor-based rounding), so
    * any engine reproduces the codes bit-for-bit.
    *
    * A per-row transform lambda, not a codegen kernel: quantization runs
    * once at write time, not in a query hot loop.
    */
  def quantizeInt8(emb: DataFrame, vecCol: String): DataFrame = {
    val absmax = array_max(transform(col(vecCol),
      x => abs(x.cast("double"))))
    val withScale = emb.withColumn("scale",
      (absmax / 127.0).cast("float"))
    withScale.withColumn("qvec",
      when(col("scale") === 0f,
        transform(col(vecCol), _ => lit(0).cast("byte")))
        .otherwise(transform(col(vecCol), x =>
          floor(x.cast("double") / col("scale").cast("double") + 0.5)
            .cast("byte"))))
  }

  /** Cosine of an int8-quantized vector against a float/double query —
    * the fused dequantize-and-fold kernel (`graft_cosine_q`); the codes
    * table is read directly, no dequantized arrays materialize.
    */
  def quantizedCosine(codes: Column, scale: Column, query: Column): Column =
    graftFn("graft_cosine_q", codes, scale.cast("double"), query)

  /** ANN over the int8-quantized table: candidates ranked by quantized
    * cosine (reading the 4×-smaller (qvec, scale) representation), the
    * top `k · rerankFactor` re-ranked by exact float cosine. The 100 TB
    * shape: the full scan touches only codes — floats are fetched for
    * a candidate-sized set. Here the float column rides the same rows
    * (the test tables aren't stored twice); in production store codes
    * and floats as separate column families / tables and join the
    * candidate ids back.
    *
    * Deterministic: ties break on id at both ranking stages; quantized
    * scores are bit-exact cross-engine (q70's codes + the fused fold),
    * so the candidate set — and therefore the exact re-ranked result —
    * is oracle-checkable.
    */
  def quantizedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, rerankFactor: Int = 4): DataFrame = {
    val qz = quantizeInt8(Dedup.spread(emb), vecCol)
    val q = emb.where(col(idCol) === queryId).select(col(vecCol).as("__qvec"))
    val cands = qz.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("__qvec"),
        quantizedCosine(col("qvec"), col("scale"), col("__qvec")).as("cosine_q"))
      .orderBy(desc("cosine_q"), col(idCol))
      .limit(k * rerankFactor)
    cands
      .select(col(idCol), col("cosine_q"),
        cosine(col(vecCol), col("__qvec")).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** Dequantize back to float: `qvec[i] * scale`. Lossy — max error
    * scale/2 per component; pair with exact float re-ranking.
    */
  def dequantizeInt8(df: DataFrame, qvecCol: String = "qvec",
      scaleCol: String = "scale"): DataFrame =
    df.withColumn("dequantized",
      transform(col(qvecCol),
        q => (q.cast("double") * col(scaleCol).cast("double")).cast("float")))

  /** Sign-LSH bucket id in [0, 2^planes): bit p is the sign of the
    * projection onto deterministic md5-derived hyperplane p. Computed
    * scan-side by a fused codegen kernel (one pass over the vector for
    * all planes; the plane matrix is cached — md5 cost amortizes to
    * zero). [[signLshBucketReference]] pins bit-parity.
    */
  def signLshBucket(vec: Column, planes: Int): Column =
    graftFn("graft_lsh_bucket", vec, lit(planes))

  /** The declarative formulation the kernel replaces (interpreted HOFs,
    * ~10-30× slower): plane component = md5Hash60("plane:g:i")/2^59 - 1,
    * projection = left-to-right double fold. Kept (test scope) as the
    * bit-parity reference for FunctionsSpec; `firstPlane` selects the
    * global plane range [firstPlane, firstPlane + planes) so band keys of
    * [[cosineNearDupPairsBucketed]] are checkable band by band.
    */
  private[graft] def signLshBucketReference(vec: Column, planes: Int,
      firstPlane: Int = 0): Column = {
    def component(plane: Int, i: Column): Column =
      conv(substring(md5(encode(
          concat(lit(s"plane:$plane:"), i.cast("string")), "UTF-8")), 1, 15),
        16, 10).cast("long").cast("double") / lit((1L << 59).toDouble) - 1.0
    val projections = (0 until planes).map { p =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * component(firstPlane + p, i)),
        lit(0.0), (acc, v) => acc + v)
    }
    projections.zipWithIndex.map { case (proj, p) =>
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Corpus bucketed by sign-LSH: adds a `bucket` column. Persist this
    * (or bucket-partition the table by it) so ANN queries prune to one
    * bucket instead of scanning the corpus.
    */
  def signLshBuckets(emb: DataFrame, vecCol: String, planes: Int): DataFrame =
    emb.withColumn("bucket", signLshBucket(col(vecCol), planes))

  // ------------------------------------------------------------------- IVF

  /** Deterministic IVF "training": the `numCentroids` corpus vectors with
    * the lowest md5-derived hash of the id (a hash-random sample — no
    * iterative k-means, reproducible on any cluster AND in the DuckDB
    * oracle: `('0x' || substr(md5(id), 1, 15))::BIGINT`). The model is
    * tiny (k × dim floats) and lives on the driver / in the plan, never
    * in a shuffle.
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int): Array[Array[Float]] =
    emb.select(col(vecCol))
      .orderBy(
        conv(substring(md5(encode(col(idCol).cast("string"), "UTF-8")), 1, 15),
          16, 10).cast("long"),
        col(idCol))
      .limit(numCentroids)
      .collect()
      .map(_.getSeq[Float](0).toArray)

  /** Lloyd's refinement of [[ivfCentroids]]: `iters` rounds of
    * assign-then-mean k-means over the corpus. Per round: one narrow
    * scan (cell assignment is the plan-literal kernel), a posexplode to
    * (cell, dim) partial sums — map-side combine collapses them before
    * the exchange, so the shuffle carries at most
    * partitions × k × dim rows — and a k×dim collect of the new model.
    * Cells that lose all members keep their previous centroid. The
    * returned model is what [[ivfAssign]]/[[ivfTopK]] consume; training
    * cost is `iters` scans, independent of k beyond the kernel's fused
    * k-fold assignment.
    *
    * Double-precision means merge in partition order, so exact bits can
    * vary across cluster layouts — training is for cell QUALITY (lower
    * mean distance-to-centroid); the oracle-checked q43 path keeps the
    * deterministic hash-sample model.
    *
    * `sampleFraction < 1` trains on a deterministic hash sample of the
    * corpus ([[Sampling.hashSample]] — the same row lands in the sample
    * on any cluster/layout/day) persisted for the duration of training:
    * a k-means model is a statistical summary, so at 100 TB `iters` FULL
    * corpus scans buy nothing a few-million-row sample doesn't — sampled
    * training cost is ~flat in corpus size (seed + every Lloyd's round
    * read only the sample). 1.0 (default) is the exact full-scan arm.
    */
  def trainIvfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, iters: Int = 3,
      sampleFraction: Double = 1.0): Array[Array[Float]] = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction out of (0, 1]: $sampleFraction")
    val train =
      if (sampleFraction >= 1.0) emb
      else Sampling.hashSample(emb, idCol, sampleFraction)
        .select(col(idCol), col(vecCol)).persist()
    try trainIvfOn(train, idCol, vecCol, numCentroids, iters)
    finally if (sampleFraction < 1.0) { train.unpersist(false); () }
  }

  private def trainIvfOn(emb: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, iters: Int): Array[Array[Float]] = {
    var centroids = ivfCentroids(emb, idCol, vecCol, numCentroids)
    // fail HERE, not at the caller's ivfAssign against a 0-centroid
    // model: an aggressive sampleFraction on a small corpus can select
    // zero rows (pqCodebooks has the same guard via its require)
    require(centroids.nonEmpty, "IVF training input has no rows — " +
      "empty corpus, or sampleFraction selected zero rows; " +
      "raise sampleFraction or pass the full corpus")
    for (_ <- 1 to iters) {
      val means = ivfAssign(emb, vecCol, centroids)
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .groupBy(col("centroid_id"), col("__pos"))
        .agg(avg(col("__x")).as("__m"))
        // re-group executor-side so the driver collects ONE row per
        // centroid (a dim-sized struct array), not one boxed Row per
        // (centroid, dim) SCALAR — at the production sizing the
        // scaladoc targets (cells ~ √N × hundreds of dims) per-scalar
        // rows are a multi-GB driver collect for the same float payload
        .groupBy(col("centroid_id"))
        .agg(collect_list(struct(col("__pos"), col("__m"))).as("__dims"))
        .collect()
        .map { r =>
          r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(d => d.getInt(0) -> d.getDouble(1))
        }.toMap
      // merge observed dims into a COPY of the previous centroid (the
      // trainPqCodebooks discipline): if every member of a cell is
      // shorter than the model dim, the unobserved tail keeps its
      // previous value instead of producing a ragged centroid
      centroids = centroids.indices.map { i =>
        means.get(i) match {
          case None => centroids(i)
          case Some(byPos) =>
            val next = centroids(i).clone()
            byPos.foreach { case (p, v) =>
              if (p >= 0 && p < next.length) next(p) = v.toFloat
            }
            next
        }
      }.toArray
    }
    centroids
  }

  /** Mean cosine distance (1 - cosine) of each vector to its assigned
    * centroid — the training-quality metric for [[trainIvfCentroids]].
    */
  def ivfInertia(emb: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): Double = {
    val model = typedLit(centroids.map(_.toSeq).toSeq)
    ivfAssign(emb, vecCol, centroids)
      .select(avg(lit(1.0) -
        cosine(col(vecCol), element_at(model, col("centroid_id") + 1))).as("d"))
      .head().getDouble(0)
  }

  /** Corpus partitioned into IVF cells: adds `centroid_id` computed
    * scan-side by a custom expression carrying the centroid model as a
    * plan literal — zero shuffle, zero per-row model lookup cost beyond
    * the k fused cosine folds. Persist (or partition the table) by
    * `centroid_id` so ANN queries prune to `nprobe` cells.
    */
  def ivfAssign(emb: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    emb.withColumn("centroid_id",
      graftFn("graft_nearest_centroid", col(vecCol),
        typedLit(centroids.map(_.toSeq).toSeq)))

  /** Approximate top-k via IVF: scan only the `nprobe` cells whose
    * centroids are most similar to the query vector, exact cosine rank
    * within them. Recall grows with `nprobe`; `nprobe = numCentroids`
    * degenerates to exact brute force.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, centroids: Array[Array[Float]], nprobe: Int = 2): DataFrame = {
    val assigned = ivfAssign(emb, vecCol, centroids)
    val q = assigned.where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    // nprobe most-similar cells for the query vector (driver-side over
    // the tiny model — this is query planning, not a data-path collect)
    val qvec = q.collect().head.getSeq[Float](0).toArray
    val probes = probeCells(qvec, centroids, nprobe)
    assigned
      .where(col("centroid_id").isin(probes.toSeq: _*) && col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  private def cosArrays(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val m = math.min(a.length, b.length)
    while (i < m) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The query's `nprobe` most-similar cells (ties to the lower cell). */
  private def probeCells(qvec: Array[Float], centroids: Array[Array[Float]],
      nprobe: Int): Array[Int] =
    centroids.zipWithIndex
      .sortBy { case (c, i) => (-cosArrays(qvec, c), i) }
      .take(nprobe).map(_._2)

  /** [[ivfTopK]] for a whole query set in one corpus scan. Per-query
    * probe cells are computed driver-side over (model × query set) — the
    * same planning-sized work as broadcasting the query set itself (a
    * broadcast IS a driver collect; the query set is eval-sized by
    * contract) — exploded to (query, cell) rows, and candidates come
    * from an EQUI-join on `centroid_id` against the cell-assigned
    * corpus: each query scores only its `nprobe` cells, the corpus is
    * scanned once for the whole eval set, and only (query, candidate,
    * score) rows ever shuffle.
    */
  def ivfTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, centroids: Array[Array[Float]], nprobe: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // id-type generic like bruteForceTopKBatch (the exact baseline
    // recallAtK measures this against — both must run on the same eval
    // set): the query id rides the driver-side probe expansion as its
    // STRING form and is cast back on the way out; a hard cast("long")
    // nulled string/UUID ids and crashed the typed collect.
    val qidType = queries.schema(queryIdCol).dataType
    val isBinary = qidType == org.apache.spark.sql.types.BinaryType
    val qidOut =
      if (isBinary) base64(col(queryIdCol)) else col(queryIdCol).cast("string")
    val qRows = queries
      .select(qidOut, col(queryVecCol))
      .as[(String, Array[Float])].collect()
    val probes = qRows.toSeq.flatMap { case (qid, qv) =>
      probeCells(qv, centroids, nprobe).map(cell => (qid, qv, cell))
    }
    val probeDf = broadcast(probes.toDF("query_id", "__qvec", "__cell")
      .withColumn("query_id",
        if (isBinary) unbase64(col("query_id"))
        else col("query_id").cast(qidType)))
    excludeSelf(
        ivfAssign(Dedup.spread(emb), vecCol, centroids)
          .join(probeDf, col("centroid_id") === col("__cell")),
        idCol, emb, queries, queryIdCol)
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("__qvec")).as("cosine"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(desc("cosine"), col(idCol))))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Semantic near-dup pairs via IVF cells (the SemDeDup shape): pair
    * vectors sharing an IVF cell, verify exact cosine. Complements the
    * sign-LSH path ([[cosineNearDupPairsBucketed]]) when an IVF model
    * already exists — candidate generation reuses the ANN index's cell
    * assignment (one scan-side kernel, one shuffle on centroid_id), so
    * index build and dedup share all their work.
    *
    * Pairing is quadratic WITHIN a cell — that is the design: size the
    * model so cells stay small (numCentroids ≈ corpus / target cell
    * size; at 10⁸ vectors and ~10⁴-vector cells that's k ≈ 10⁴ — still
    * a plan-literal-sized model). Cells above `maxCell` are dropped
    * (mass-duplicate clusters belong to exact dedup first). Recall = the
    * probability both members of a true pair land in one cell; near-dup
    * pairs (cosine ≈ 1) virtually always do, loose pairs near the
    * threshold may straddle a cell boundary.
    */
  def ivfNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], threshold: Double,
      maxCell: Int = 100000): DataFrame = {
    val assigned = ivfAssign(Dedup.spread(emb), vecCol, centroids)
      .select(col("centroid_id"), col(idCol).as("__id"),
        col(vecCol).as("__v"), l2Norm(col(vecCol)).as("__nm"))
    // counted on both self-join legs: once-or-twice per dropped cell
    // depending on adaptive planning — see cosineNearDupPairsBucketed
    val capped = CapMetrics.cappedByCount(assigned,
      "ivf_neardup_cells", Seq("centroid_id"), maxCell)
    val a = capped.select(col("centroid_id"), col("__id").as("idA"),
      col("__v").as("__va"), col("__nm").as("__na"))
    val b = capped.select(col("centroid_id"), col("__id").as("idB"),
      col("__v").as("__vb"), col("__nm").as("__nb"))
    a.join(b, Seq("centroid_id"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        (dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): within-cell cosine-threshold duplicate groups
    * ([[ivfNearDupPairs]] — the paper's key scaling trick is that NO
    * cross-cluster pair is ever considered), collapsed so each group
    * keeps the member LEAST similar to its cell centroid — the paper's
    * keep-rule: prototypical redundancy is pruned, the group's outlier
    * survives (ties to the lowest id). Returns surviving rows with
    * `centroid_id` and `centroid_sim` attached.
    *
    * Scale: the centroid model is a plan literal (the IVF pattern); the
    * only corpus-sized movement is one vector copy per self-join leg on
    * the `centroid_id` exchange — pair cosine evaluates streamwise
    * inside the join, so nothing pair-proportional carries a vector,
    * and the collapse is pair-graph-sized
    * ([[graft.ops.Dedup.collapseNearDupsBy]]).
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], threshold: Double,
      maxCell: Int = 100000): DataFrame = {
    val cvecs = typedLit(centroids.map(_.toSeq).toSeq)
    val scored = ivfAssign(emb, vecCol, centroids)
      .withColumn("centroid_sim",
        cosine(col(vecCol), element_at(cvecs, col("centroid_id") + 1)))
    val pairs = ivfNearDupPairs(emb, idCol, vecCol, centroids, threshold,
      maxCell).select(col("idA"), col("idB"))
    // collapseNearDupsBy keeps the HIGHEST score — negate the centroid
    // similarity so "least similar to centroid" wins
    Dedup.collapseNearDupsBy(
        scored.withColumn("__anti_sim", -col("centroid_sim")),
        idCol, pairs, "__anti_sim")
      .drop("__anti_sim")
  }

  /** Embedding-space drift between two corpus releases: the exact total
    * variation distance between their IVF cell-assignment histograms
    * under a SHARED centroid model — the embedding-modality twin of
    * [[graft.ops.TextAnalysis.distributionDrift]], answering "did the
    * new release's embedding distribution shift" without any pairwise
    * comparison. Same exactness trick: per-cell integer numerator
    * |c_a·N_b − c_b·N_a| summed in DECIMAL, one division at the end —
    * no float sums, layout-independent, cross-engine hashable.
    *
    * Scale: two narrow assignment scans (the centroid model is a plan
    * literal) pre-aggregated to k-cell histograms; everything after is
    * model-sized.
    *
    * @return one row: `n_a, n_b, l1_num (DECIMAL 38,0), tv (double)`
    */
  def assignmentDrift(a: DataFrame, b: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    def cells(df: DataFrame, cnt: String): DataFrame =
      ivfAssign(df, vecCol, centroids)
        .groupBy(col("centroid_id")).agg(count(lit(1)).as(cnt))
    val joined = cells(a, "__ca")
      .join(cells(b, "__cb"), Seq("centroid_id"), "full_outer")
      .select(coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = joined
      .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    joined.crossJoin(broadcast(totals))
      .select(col("__na"), col("__nb"),
        abs(col("__ca").cast("decimal(19,0)") * col("__nb").cast("decimal(19,0)")
          - col("__cb").cast("decimal(19,0)") * col("__na").cast("decimal(19,0)"))
          .as("__t"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(col("__t")).cast("decimal(38,0)").as("l1_num"))
      .select(col("n_a"), col("n_b"), col("l1_num"),
        (col("l1_num").cast("double") /
          (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
          .as("tv"))
  }

  /** Approximate top-k: exact ranking restricted to the query's LSH
    * bucket. Fast path for the 100 TB corpus; recall < 1 by construction.
    */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, planes: Int = 4): DataFrame = {
    val bucketed = signLshBuckets(emb, vecCol, planes)
    val q = bucketed.where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), col("bucket").as("__qbucket"))
    bucketed.join(broadcast(q), col("bucket") === col("__qbucket"))
      .where(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("__qvec")).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** [[annTopK]] for a whole query set in one corpus scan — the
    * eval-workload shape. Buckets are computed scan-side on both sides,
    * the (eval-sized) query set broadcasts, and candidates come from a
    * bucket EQUI-join (never a cross join): each query scores only its
    * bucket's vectors, so the per-query windowed top-k shuffles
    * bucket-sized score rows, not the corpus.
    */
  def annTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, planes: Int = 4): DataFrame = {
    val bucketed = signLshBuckets(Dedup.spread(emb), vecCol, planes)
    val q = broadcast(queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"))
      .withColumn("__qbucket", signLshBucket(col("__qvec"), planes)))
    val scored = excludeSelf(
        bucketed.join(q, col("bucket") === col("__qbucket")),
        idCol, emb, queries, queryIdCol)
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("__qvec")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Recall of an ANN result against exact ground truth, per query:
    * `n_hit / n_truth` where both sides are (query, neighbor) top-k
    * tables (e.g. [[annTopKBatch]] vs [[bruteForceTopKBatch]]). The
    * measurement behind every ANN parameter choice — bucket width /
    * nprobe / rerank factor are tuned to a recall target, not guessed.
    * Queries whose ANN bucket was empty count as recall 0, not absent:
    * ground truth drives the left join.
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, queryCol: String,
      idCol: String): DataFrame = {
    val hit = ann.select(col(queryCol), col(idCol)).withColumn("__hit", lit(1L))
    exact.select(col(queryCol), col(idCol))
      .join(hit, Seq(queryCol, idCol), "left")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_truth"))
  }

  // ------------------------------------------- product quantization (PQ)
  //
  // Jégou et al. 2011 ("Product Quantization for Nearest Neighbor
  // Search"): the corpus representation that makes 100 TB of embeddings
  // scannable — each dim-float vector is stored as m small codeword
  // indices (64 floats = 256 B → 8 ints; with 4-bit-sized codebooks
  // that's a 32–64× smaller table at rest AND in memory), and queries
  // rank candidates with Asymmetric Distance Computation (ADC): per
  // query a tiny m×ksub table of subspace inner products is precomputed
  // once, and a candidate's approximate score is m table lookups — no
  // vector is touched. Composes with the IVF index (IVFADC, the paper's
  // §V): cells prune candidates, codes score them.

  private def pqLit(cbs: Array[Array[Array[Float]]]): Column =
    typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)

  /** Deterministic PQ "training" (the [[ivfCentroids]] discipline): the
    * codebook of subspace j is the j-th dsub-wide slice of the `ksub`
    * corpus vectors with the lowest md5-derived id hash — no iterative
    * k-means, reproducible on any cluster AND in the DuckDB oracle. The
    * model is m × ksub × dsub floats (= ksub full vectors), plan-literal
    * sized. `dim` must divide evenly into `m` subspaces. For cell
    * QUALITY (lower reconstruction error) refine with
    * [[trainPqCodebooks]]; the oracle-checked paths keep this
    * deterministic model.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): Array[Array[Array[Float]]] = {
    val sample = ivfCentroids(emb, idCol, vecCol, ksub)
    require(sample.nonEmpty, "pqCodebooks: empty corpus")
    val dim = sample(0).length
    require(m >= 1 && dim % m == 0,
      s"pqCodebooks: dim $dim is not divisible into m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m)(j =>
      sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
  }

  /** Lloyd's refinement of [[pqCodebooks]]: `iters` rounds of k-means
    * over ALL subspaces in one corpus scan per round — vectors are
    * encoded scan-side (the plan-literal kernel), positions explode to
    * (subspace, codeword, within-dim) partial means with map-side
    * combine collapsing them before the exchange (the shuffle carries at
    * most partitions × m × ksub × dsub rows), and the new model collects
    * m × ksub codewords. Codewords that lose all members keep their
    * previous value. Same double-mean caveat as [[trainIvfCentroids]]:
    * training is for reconstruction QUALITY; oracle-checked paths use
    * the deterministic [[pqCodebooks]] model.
    *
    * `sampleFraction < 1` trains on a deterministic persisted hash
    * sample exactly like [[trainIvfCentroids]] — at 100 TB the codebook
    * is a statistical summary and `iters` full scans are waste; 1.0
    * (default) is the exact full-scan arm.
    */
  def trainPqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 3,
      sampleFraction: Double = 1.0): Array[Array[Array[Float]]] = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction out of (0, 1]: $sampleFraction")
    val train =
      if (sampleFraction >= 1.0) emb
      else Sampling.hashSample(emb, idCol, sampleFraction)
        .select(col(idCol), col(vecCol)).persist()
    try trainPqOn(train, idCol, vecCol, m, ksub, iters)
    finally if (sampleFraction < 1.0) { train.unpersist(false); () }
  }

  private def trainPqOn(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): Array[Array[Array[Float]]] = {
    var cbs = pqCodebooks(emb, idCol, vecCol, m, ksub)
    val dsub = cbs(0)(0).length
    for (_ <- 1 to iters) {
      val means = emb
        .select(graftFn("graft_pq_encode", col(vecCol), pqLit(cbs)).as("__codes"),
          posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .where(col("__pos") < m * dsub) // over-length tails train nothing
        .select((col("__pos") / dsub).cast("int").as("__j"),
          pmod(col("__pos"), lit(dsub)).as("__p"),
          element_at(col("__codes"), (col("__pos") / dsub).cast("int") + 1)
            .as("__c"),
          col("__x"))
        .groupBy(col("__j"), col("__c"), col("__p"))
        .agg(avg(col("__x")).as("__m"))
        // one driver row per (subspace, codeword) — a dsub-sized struct
        // array — not one per scalar (the trainIvfOn discipline; here
        // the blowup factor is dsub)
        .groupBy(col("__j"), col("__c"))
        .agg(collect_list(struct(col("__p"), col("__m"))).as("__dims"))
        .collect()
        .map { r =>
          (r.getInt(0), r.getInt(1)) ->
            r.getSeq[org.apache.spark.sql.Row](2)
              .map(d => d.getInt(0) -> d.getDouble(1))
        }.toMap
      // merge observed positions into a COPY of the previous codeword:
      // if every member vector of a codeword is shorter than (j+1)*dsub,
      // some positions collect nothing — an array built from only the
      // observed positions would be ragged (< dsub floats) and
      // desynchronize the encode kernel's offset walk next iteration.
      // Unobserved positions keep their previous value, like codewords
      // that lose all members keep theirs.
      cbs = Array.tabulate(cbs.length)(j => Array.tabulate(cbs(j).length) { c =>
        means.get((j, c)) match {
          case None => cbs(j)(c)
          case Some(byPos) =>
            val next = cbs(j)(c).clone()
            byPos.foreach { case (p, v) =>
              if (p >= 0 && p < next.length) next(p) = v.toFloat
            }
            next
        }
      })
    }
    cbs
  }

  /** Corpus → PQ representation: `pq_code` (array<int>, one codeword
    * index per subspace, scan-side kernel) plus `vnorm` (the exact
    * full-precision norm). The (id, pq_code, vnorm, centroid_id) table
    * is what ships to the ANN serving layer — m ints + a double per
    * vector; the float vectors themselves stay cold.
    */
  def pqEncode(emb: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    emb.withColumn("pq_code",
        graftFn("graft_pq_encode", col(vecCol), pqLit(codebooks)))
      .withColumn("vnorm", l2Norm(col(vecCol)))

  /** Mean / max L2 reconstruction error of the PQ model over the corpus
    * — the quality metric [[trainPqCodebooks]] is tuned against (more
    * subspaces or codewords → lower error → better ADC ranking).
    */
  def pqReconstructionError(emb: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val flat: Seq[Seq[Float]] = codebooks.toSeq.map(_.toSeq.map(_.toSeq))
      .flatten.map(_.toSeq)
    // reconstruction = concat of each subspace's chosen codeword; the
    // codeword table flattens to (j*ksub + code) for one element_at
    val ksub = codebooks(0).length
    val rec = flatten(zip_with(
      graftFn("graft_pq_encode", col(vecCol), pqLit(codebooks)),
      sequence(lit(0), lit(codebooks.length - 1)),
      (c, j) => element_at(typedLit(flat), j * ksub + c + 1)))
    emb
      .select(sqrt(aggregate(
        zip_with(col(vecCol), rec, (x, y) =>
          (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, e) => acc + coalesce(e, lit(0.0)))).as("__err"))
      .agg(avg(col("__err")).as("mean_err"), max(col("__err")).as("max_err"),
        count(lit(1)).as("n"))
  }

  /** IVFADC batch ANN with exact re-rank (Jégou et al. §V + the
    * standard serving refinement): candidates come from each query's
    * `nprobe` IVF cells (the [[ivfTopKBatch]] equi-join — never a cross
    * join), the ADC stage ranks them reading ONLY the PQ codes, and the
    * top `k × rerankFactor` shortlist is re-scored with exact cosine
    * over the full vectors (a shortlist-sized fetch, not a scan).
    * Driver-side, per query (the query set is eval-sized by contract):
    * the m×ksub ADC table of subspace inner products ⟨q_j, codeword⟩
    * and |q|; the table rides the broadcast probe rows. A candidate's
    * approximate dot product is the fold of its m table lookups —
    * `aggregate(zip_with(pq_code, table))` over codegen'd builtins —
    * and dividing by |q|·`vnorm` (the stored exact norm) yields the ADC
    * cosine estimate. Every stage is fixed-order double arithmetic the
    * DuckDB oracle reproduces bit-for-bit (the table via
    * `list_inner_product(DOUBLE[], DOUBLE[])`, the ADC sum via
    * `list_inner_product(list(lookup ORDER BY j), ones)`, the re-rank
    * via `list_cosine_similarity`).
    *
    * The corpus here is encoded scan-side so the query stays one
    * self-contained plan; the production steady state is
    * [[pqAdcTopKBatchWithCodes]] over a PERSISTED codes table. The ADC
    * stage never touches a corpus vector; only the shortlist's
    * `k × rerankFactor` vectors per query are ever fetched — at 10⁹+
    * vectors that is the difference between scanning TBs of floats and
    * scanning GBs of codes.
    */
  def pqAdcTopKBatch(emb: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String, k: Int,
      codebooks: Array[Array[Array[Float]]],
      centroids: Array[Array[Float]], nprobe: Int = 2,
      rerankFactor: Int = 4): DataFrame =
    pqAdcTopKBatchWithCodes(emb,
      pqEncode(ivfAssign(Dedup.spread(emb), vecCol, centroids),
        vecCol, codebooks),
      idCol, vecCol, queries, queryIdCol, queryVecCol, k,
      codebooks, centroids, nprobe, rerankFactor)

  /** [[pqAdcTopKBatch]] against a PRECOMPUTED codes table — the
    * `corpusLshKeys`/`incrementalNearDupsWithKeys` stored-index
    * discipline applied to PQ serving. `codes` is [[pqEncode]]∘
    * [[ivfAssign]] output (`idCol`, `pq_code`, `vnorm`, `centroid_id`)
    * persisted once at ingest — bucket it by `centroid_id`
    * ([[graft.io.Layouts.writeBucketed]]) and the probe join needs NO
    * exchange on the corpus side (LayoutsSpec pins it). Per query batch
    * this probes the stored table instead of re-encoding the corpus:
    * the float vectors (`emb`) are read only for the shortlist-sized
    * exact re-rank fetch. `codebooks`/`centroids` must be the model the
    * table was encoded with — codes are meaningless under any other.
    */
  def pqAdcTopKBatchWithCodes(emb: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String, k: Int,
      codebooks: Array[Array[Array[Float]]],
      centroids: Array[Array[Float]], nprobe: Int = 2,
      rerankFactor: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // id-type generic like bruteForceTopKBatch / ivfTopKBatch
    val qidType = queries.schema(queryIdCol).dataType
    val isBinary = qidType == org.apache.spark.sql.types.BinaryType
    val qidOut =
      if (isBinary) base64(col(queryIdCol)) else col(queryIdCol).cast("string")
    val qRows = queries
      .select(qidOut, col(queryVecCol))
      .as[(String, Array[Float])].collect()
    val probes = qRows.toSeq.flatMap { case (qid, qv) =>
      var off = 0
      val tbl: Seq[Seq[Double]] = codebooks.toSeq.map { cb =>
        val row: Seq[Double] = cb.toSeq.map { cw =>
          var acc = 0.0
          var i = 0
          val lim = math.min(cw.length, math.max(0, qv.length - off))
          while (i < lim) { acc += qv(off + i).toDouble * cw(i).toDouble; i += 1 }
          acc
        }
        off += cb(0).length
        row
      }
      var nacc = 0.0
      var i = 0
      while (i < qv.length) { nacc += qv(i).toDouble * qv(i).toDouble; i += 1 }
      val qnorm = math.sqrt(nacc)
      // a zero-norm query has no cosine ranking (every score is 0/0):
      // it contributes no probe rows and therefore no result rows,
      // like a query absent from the eval set — never NaN scores
      if (qnorm == 0.0) Seq.empty
      else probeCells(qv, centroids, nprobe).map(cell => (qid, cell, tbl, qnorm))
    }
    val probeDf = broadcast(probes.toDF("query_id", "__cell", "__tbl", "__qnorm")
      .withColumn("query_id",
        if (isBinary) unbase64(col("query_id"))
        else col("query_id").cast(qidType)))
    // vnorm > 0: a zero-norm corpus vector makes adc_cosine ±Inf/NaN and
    // the exact re-rank cosine NaN, and Spark (and DuckDB) sort NaN above
    // every real value in a descending window — a degenerate vector would
    // outrank every genuine candidate in both stages. It has no defined
    // cosine to anything, so it is excluded from candidacy outright.
    //
    // The isin on the UNION of probed cells is implied by the probe join
    // but stated as a scan filter so it PUSHES DOWN: against a stored
    // codes table bucketed/sorted by centroid_id it prunes buckets and
    // row groups, so a small query batch reads only its own cells
    // instead of scanning the whole codes table before the join.
    val probedCells = probes.map(_._2).distinct
    val corpus = codes.where(col("vnorm") > 0 &&
      col("centroid_id").isin(probedCells: _*))
    val scored = excludeSelf(
        corpus.join(probeDf, col("centroid_id") === col("__cell")),
        idCol, emb, queries, queryIdCol)
      .select(col("query_id"), col(idCol),
        (aggregate(
          zip_with(col("pq_code"), col("__tbl"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x) / (col("__qnorm") * col("vnorm")))
          .as("adc_cosine"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("adc_cosine"), col(idCol))
    val shortlist = scored.withColumn("__rn", row_number().over(wAdc))
      .where(col("__rn") <= k * rerankFactor)
      .drop("__rn")
    // exact re-rank: fetch only the shortlist's vectors (equi-join on
    // id) and the eval-sized query vectors (broadcast)
    val qvecDf = broadcast(queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec")))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col(idCol))
    shortlist
      .join(emb.select(col(idCol), col(vecCol).as("__v")), Seq(idCol))
      .join(qvecDf, Seq("query_id"))
      .select(col("query_id"), col(idCol), col("adc_cosine"),
        cosine(col("__v"), col("__qvec")).as("cosine"))
      .withColumn("__rn", row_number().over(wExact))
      .where(col("__rn") <= k)
      .drop("__rn")
  }
}
