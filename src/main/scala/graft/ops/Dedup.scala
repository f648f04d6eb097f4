package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design notes (100 TB target):
  *  - exact dedup is a single hash-shuffle on the fingerprint — the
  *    cheapest possible plan; Spark's AQE handles skewed fingerprints.
  *  - MinHash-LSH shuffles once on (band, bandKey); candidate
  *    verification joins only within buckets. Degenerate buckets (mass
  *    duplication of one document) grow quadratically — cap them with
  *    [[minhashNearDups]]' `maxBucket` before pairing.
  *  - everything is built-in expressions (codegen'd); signatures are
  *    computed scan-side so the shuffle carries only (id, keys).
  */
object Dedup {

  /** call_function on a graft_* expression, auto-registering in the
    * active session first (idempotent).
    */
  private def graftFn(name: String, args: Column*): Column =
    graft.functions.GraftFunctions.fn(name, args: _*)

  /** Spread a narrow input across the cluster before compute-heavy
    * per-row work (signatures, token hashing). A small corpus arrives as
    * one or two parquet row-groups — without this, scan-side kernels run
    * on one core. No-op (no shuffle) when the input is already wider
    * than half the default parallelism, i.e. always at production scale.
    *
    * `knownPartitions` is the input's partition count when the caller
    * knows it by construction (the enrichment's `row_number` window is
    * one partition). Without it the count is probed with
    * `df.rdd.getNumPartitions`, which plans — and, under AQE, runs — the
    * input's exchanges once more just to read the number.
    */
  private[graft] def spread(df: DataFrame,
      knownPartitions: Option[Int] = None): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = knownPartitions.getOrElse(df.rdd.getNumPartitions)
    if (parts < (target + 1) / 2) df.repartition(target)
    else df
  }

  /** Pin a SMALL (batch- or candidate-proportional — never
    * corpus-proportional) intermediate that the downstream plan
    * references more than once. Without it, Catalyst inlines the full
    * subtree at every reference — the keyed near-dup probe's candidate
    * plan reached 12 parquet scans / 20 exchanges with the corpus-key
    * kernel subtree evaluated up to 4× (`plans/r14/q67_*_before.txt`),
    * and exchange reuse cannot collapse it because the duplicated
    * kernels sit ABOVE their subtree's exchange.
    *
    * LAZY persist, no forcing action: every reference reads one shared
    * InMemoryRelation (planning substitutes the cache; per-partition
    * block locks make a concurrent first computation compute-once).
    * Measured against an eager persist-then-count pin (r14): the eager
    * job cost more than it saved on every shape tried — q67-family
    * −36% lazy vs −25% eager vs unpinned — and for cheap duplicated
    * subtrees (the NB/DSIR model aggregations) BOTH pin forms lost to
    * plain recomputation, so pin only where the duplicated subtree
    * carries per-row kernel work.
    *
    * Lifecycle: SQL-cached Datasets are held strongly by the
    * CacheManager and are NOT reclaimed by the ContextCleaner. The
    * callers are one-shot queries ([[incrementalNearDupsWithKeys]],
    * `Similarity.incrementalCosineNearDupsWithKeys`,
    * `Curation.curateCcnet`), and their one release path is the owner
    * of the session: it unpersists the cached plans or clears the
    * cache once the result is consumed (the bench/verify harnesses
    * clear it between queries). Code that runs probe-and-act cycles
    * for the life of a session must not pin: the streaming gates hold
    * their batch-sized frames as [[materialize]]d plan leaves and
    * release them in a `finally`.
    */
  private[graft] def pinSmall(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Materialize `df` as a plan leaf: persist its RDD (MEMORY_AND_DISK,
    * lazily — the first job that reads it fills it) and rebuild a frame
    * over it, so later plans read the kept rows instead of re-deriving
    * `df` inside their own (AQE-nested) subtrees. Lineage stays, so a
    * lost executor recomputes its blocks. No CacheManager entry is made:
    * the caller owns the returned RDD and unpersists it once the frame
    * is no longer read ([[clusterLabels]]' rounds, the keyed ingest
    * gate's batch-scoped leaves).
    */
  private[graft] def materialize(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val r = df.rdd
    r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df.sparkSession.createDataFrame(r, df.schema), r)
  }

  /** Whitespace-token set of a document (order-insensitive). */
  def tokenSet(text: Column): Column = array_distinct(TextAnalysis.tokens(text))

  /** Distinct n-gram (word shingle) set; empty when the doc is shorter
    * than `n` tokens. Custom codegen'd expression — one sliding-window
    * pass instead of an interpreted slice+concat per position.
    */
  def shingles(text: Column, n: Int): Column =
    graftFn("graft_shingles", TextAnalysis.tokens(text), lit(n))

  /** Exact Jaccard similarity of two pre-deduplicated string arrays
    * (custom codegen'd one-pass expression; same counts and quotient as
    * size(array_intersect)/size(array_union) on set inputs).
    */
  def jaccard(a: Column, b: Column): Column = graftFn("graft_jaccard", a, b)

  // ------------------------------------------------------------ exact dedup

  /** Keep one row per distinct `text` (lowest `idCol` wins — deterministic,
    * unlike dropDuplicates whose survivor depends on partition order).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * releases of the same corpus: every id classified `added` (only in
    * `after`), `removed` (only in `before`), `changed` (both sides,
    * content fingerprint differs) or `unchanged`. One full-outer
    * equi-join on the id; content compares by fingerprint
    * (`xxhash64` by default, md5 with `md5Basis` for the cross-engine
    * oracle), so document bytes never join — two narrow scans and a
    * key-sized exchange at any corpus size.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, idCol: String,
      textCol: String, md5Basis: Boolean = false): DataFrame = {
    def fp(c: Column): Column =
      if (md5Basis) md5(encode(c, "UTF-8")) else xxhash64(c).cast("string")
    val b = before.select(col(idCol).as("__id"),
      fp(col(textCol)).as("__fb"))
    val a = after.select(col(idCol).as("__id"),
      fp(col(textCol)).as("__fa"))
    b.join(a, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__fb").isNull, lit("added"))
          .when(col("__fa").isNull, lit("removed"))
          .when(col("__fa") === col("__fb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** [[exactDedup]] on the canonical text form
    * ([[TextAnalysis.normalizeText]]): survivors are the lowest `idCol`
    * per normalized content, so case/punctuation/spacing variants
    * collapse without paying for a MinHash pass. Identical plan shape —
    * one md5 fingerprint hash-shuffle; normalization runs scan-side
    * inside codegen.
    */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window
      .partitionBy(md5(TextAnalysis.normalizeText(col(textCol))))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Chunk-level exact substring dedup (the chunked approximation of
    * suffix-array substring dedup used on web-scale corpora): split each
    * document's token stream into consecutive `chunkTokens`-token chunks,
    * keep only the globally FIRST occurrence of every distinct chunk
    * (lowest (`idCol`, chunk position) wins — deterministic), and
    * reassemble each document from its surviving chunks in order.
    * Documents reduced to nothing (every chunk seen earlier) drop out.
    *
    * Scale: two shuffles — one on the chunk fingerprint (md5, so the
    * exchange and the window compare 128-bit keys, not chunk text — the
    * text rides alongside once) and one on doc id for reassembly. Both
    * are data-proportional with map-side-prunable columns; nothing is
    * quadratic and no state outlives a task.
    *
    * @return columns: `idCol`, n_chunks (original), n_kept, dedup_text
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 20): DataFrame = {
    val k = chunkTokens
    val toks = TextAnalysis.tokens(col(textCol))
    val base = spread(df).select(col(idCol), toks.as("__toks"),
      ((size(toks) + lit(k - 1)).cast("long") / lit(k)).cast("long").as("n_chunks"))
    val chunked = base
      .select(col(idCol), col("n_chunks"), col("__toks"),
        explode(sequence(lit(0), (col("n_chunks") - 1).cast("int"))).as("chunk_idx"))
      .select(col(idCol), col("n_chunks"), col("chunk_idx"),
        concat_ws(" ", slice(col("__toks"), col("chunk_idx") * k + 1, lit(k)))
          .as("__chunk"))
    val w = Window.partitionBy(col("__h")).orderBy(col(idCol), col("chunk_idx"))
    val survivors = chunked
      .withColumn("__h", md5(col("__chunk")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    survivors
      .groupBy(col(idCol), col("n_chunks"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("__chunk")))),
            s => s.getField("__chunk")),
          " ").as("dedup_text"))
      .select(col(idCol), col("n_chunks"), col("n_kept"), col("dedup_text"))
  }

  /** WITHIN-document repetition removal (the Gopher/C4 intra-document
    * cleanup: repeated spans inside one page — boilerplate, nav blocks,
    * scraper stutter — are dropped, keeping the first occurrence):
    * split each document's token stream into consecutive
    * `chunkTokens`-token chunks and keep a chunk only if it is the
    * FIRST occurrence of its content within that document, then
    * reassemble in order. Unlike [[chunkDedup]] nothing is compared
    * across documents.
    *
    * Scale: ZERO shuffles — the whole operator is higher-order array
    * functions over one row (chunk, first-occurrence filter via
    * `array_position`, rejoin), so the plan is a single narrow
    * projection over the scan: embarrassingly parallel, no state, no
    * exchange at any corpus size. The first-occurrence filter is
    * O(chunks²) per document — at the default 20-token chunks a
    * 100k-token document costs 5000² ≈ 2.5×10⁷ string compares in the
    * worst case, bounded per row and off any shuffle path.
    *
    * Composition hazard: `dedup_text` is an EXPRESSION, and HOF lambdas
    * downstream interpret per element without subexpression elimination
    * — feeding it un-materialized into another chunking/HOF operator
    * re-evaluates this whole tree per element (measured: a nested
    * second pass hung for 15 min on 50 documents). Materialize
    * (checkpoint, cache, or write) between chained text-rewriting
    * passes; an exchange (as in [[exactDedup]]'s window) also cuts the
    * expression chain.
    *
    * @return columns: `idCol`, n_chunks (original), n_kept, dedup_text
    */
  def intraDocChunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 20): DataFrame = {
    val k = chunkTokens
    val toks = TextAnalysis.tokens(col(textCol))
    val nChunks = ((size(col("__toks")) + lit(k - 1)).cast("long") / lit(k))
      .cast("long")
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), nChunks.as("n_chunks"),
        transform(sequence(lit(0), (nChunks - 1).cast("int")),
          i => concat_ws(" ", slice(col("__toks"), i * k + 1, lit(k))))
          .as("__chunks"))
      .select(col(idCol), col("n_chunks"),
        filter(col("__chunks"),
          (c, i) => array_position(col("__chunks"), c) === i + 1)
          .as("__kept"))
      .select(col(idCol), col("n_chunks"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("dedup_text"))
  }

  /** Incremental dedup of an incoming batch against an existing corpus:
    * drop batch rows whose content already exists in the corpus (same
    * md5 fingerprint), then exact-dedup within the batch (lowest `idCol`
    * survivor). The daily-ingest operation of a continuously growing
    * training corpus: the corpus is never rewritten, only the new batch
    * is filtered.
    *
    * Scale: the corpus side reduces to a narrow fingerprint projection
    * feeding a left-anti join keyed on md5. Store the corpus bucketed by
    * fingerprint ([[graft.io.Layouts.writeBucketed]] on a fingerprint
    * column) and the anti join shuffles ONLY the batch — the 100 TB
    * corpus is scanned (two columns) but never exchanged; with a small
    * batch, AQE turns it into a broadcast of the batch instead.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, corpusFpCol: Option[String] = None): DataFrame = {
    val corpusFp = corpusFpCol match {
      case Some(c) => corpus.select(col(c).as("__fp"))
      case None    => corpus.select(md5(col(textCol)).as("__fp"))
    }
    exactDedup(batch, idCol, textCol)
      .withColumn("__fp", md5(col(textCol)))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** [[incrementalDedup]] with a Bloom pre-filter: build a Bloom filter
    * over the corpus fingerprints (a mergeable sketch — executors emit
    * partials, only the model-sized filter reaches the driver), broadcast
    * it, and split the batch scan-side:
    *
    *  - bloom-negative rows are *definitely* new — they skip the corpus
    *    join entirely;
    *  - bloom-positive rows (true dups + ~fpp false positives) are
    *    re-verified with the exact anti-join, so the result is
    *    bit-identical to [[incrementalDedup]] (same DuckDB oracle).
    *
    * The 100 TB ingest lever: daily batches are mostly NEW content, so
    * the anti-join's probe side shrinks from the whole batch to the
    * suspected-duplicate sliver (dup-rate + fpp of it). Size the filter
    * for the corpus cardinality: ~1.2 GB per 10⁹ fingerprints at 1% fpp —
    * broadcastable; beyond that, raise fpp (re-verification absorbs it)
    * or partition the corpus and run per-partition filters. Pass a
    * pre-built `bloom` to amortize construction across many batches
    * (e.g. every micro-batch of a continuous ingest).
    *
    * The two union branches each scan the (small) batch side — the
    * deliberate trade for keeping the corpus-side anti-join's probe
    * input filtered BEFORE the shuffle; the corpus is scanned once.
    * Persist the batch first if it is expensive to recompute.
    */
  def incrementalDedupBloom(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, expectedCorpusItems: Long,
      fpp: Double = 0.01,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)
      : DataFrame = {
    val spark = batch.sparkSession
    val corpusFp = corpus.select(md5(col(textCol)).as("__fp"))
    val bf = bloom.getOrElse(
      corpusFp.stat.bloomFilter("__fp", expectedCorpusItems, fpp))
    val bfBc = spark.sparkContext.broadcast(bf)
    // null fp (null text) → not suspected: the row keeps, exactly like
    // the exact twin, whose anti-join null key never matches — a bare
    // mightContainString(null) would NPE the task instead
    val mightContain =
      udf((fp: String) => fp != null && bfBc.value.mightContainString(fp))
    val flagged = exactDedup(batch, idCol, textCol)
      .withColumn("__fp", md5(col(textCol)))
      .withColumn("__hit", mightContain(col("__fp")))
    val definitelyNew = flagged.where(!col("__hit"))
    val verified = flagged.where(col("__hit"))
      .join(corpusFp, Seq("__fp"), "left_anti")
    definitelyNew.unionByName(verified).drop("__fp", "__hit")
  }

  // --------------------------------------------------------------- MinHash

  /** MinHash signature: element k = min over tokens of xxhash64(token, k).
    * One pass over the tokens per document, no shuffle. Custom codegen'd
    * expression (graft.functions.MinHashSignature) — hashes each token
    * once and mixes the index in, instead of interpreting a lambda per
    * (token, k) pair.
    */
  /** Banding-geometry advisor: the smallest (numHashes, bands) whose
    * S-curve clears `targetRecall` at the detection `threshold` while
    * minimizing junk candidates at the background similarity — the
    * SCALE.md band-geometry rule as code, so a pipeline picks its
    * banding from requirements instead of folklore (the round-3
    * lesson: 8×2 banding at a 0.9 threshold pulled ~53% of random
    * J≈0.3 pairs into verification and the pipelines were
    * candidate-bound).
    *
    * Per-pair collision probability at similarity J with b bands of r
    * rows is `1 − (1 − J^r)^b`. Among geometries with `rows·bands ≤
    * maxHashes` and recall(threshold) ≥ targetRecall, picks the one
    * with the lowest junk rate at `backgroundJ`, tie-broken to fewer
    * total hashes (cheaper signatures).
    *
    * @return (numHashes, bands, rows, recallAtThreshold, junkAtBackground)
    */
  def bandingFor(threshold: Double, targetRecall: Double = 0.95,
      backgroundJ: Double = 0.3,
      maxHashes: Int = 128): (Int, Int, Int, Double, Double) = {
    require(threshold > 0 && threshold < 1 && targetRecall > 0 &&
      targetRecall < 1 && backgroundJ >= 0 && backgroundJ < threshold,
      s"bad advisor inputs: t=$threshold r=$targetRecall bg=$backgroundJ")
    def collide(j: Double, r: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(j, r), b)
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
      rec = collide(threshold, r, b) if rec >= targetRecall
    } yield (r * b, b, r, rec, collide(backgroundJ, r, b))
    require(candidates.nonEmpty,
      s"no geometry within $maxHashes hashes reaches recall $targetRecall")
    candidates.minBy { case (n, _, _, _, junk) => (junk, n) }
  }

  def minhashSignature(tokenArr: Column, numHashes: Int): Column =
    graftFn("graft_minhash", tokenArr, lit(numHashes))

  /** Per-document MinHash band keys as (id, band, key) rows — the shared
    * front end of every LSH-banded operator. Band keys are built as one
    * array(struct(band, key)) projection over plain (non-lambda)
    * expressions: the signature subtree repeats per band, but
    * whole-stage codegen's subexpression elimination computes it ONCE
    * per row (a `transform(sequence(...), ...)` lambda would interpret,
    * recomputing the signature per band per row). The md5 basis keys on
    * the raw signature slice (array<long> — Spark groups/joins arrays
    * by value, and DuckDB can rebuild the identical lists); the xxh64
    * production basis hashes the slice to one BARE long, keeping the
    * dominant (band, key) exchange primitive-typed.
    */
  private def bandedKeys(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, md5Basis: Boolean,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val bandCol = bandKeyArray(col(textCol), numHashes, bands, md5Basis)
    // `carry` columns (e.g. the verification token hashes) are computed
    // in the SAME scan-side projection as the signature — one pass over
    // the text — and ride the band explode into the (band, key) shuffle.
    df.select(col(idCol).as("__id") +: explode(bandCol).as("__bk") +:
        carry.map { case (n, c) => c.as(n) }: _*)
      .select(col("__id") +: col("__bk.band").as("band") +:
        col("__bk.key").as("key") +: carry.map(c => col(c._1)): _*)
  }

  /** A document's MinHash band keys as one `array<struct<band INT,
    * key>>` value — the single definition behind [[bandedKeys]] and the
    * keyed ingest gate's per-batch features (which explode it twice:
    * for the within-batch collapse and for the probe and key append).
    */
  private[graft] def bandKeyArray(text: Column, numHashes: Int, bands: Int,
      md5Basis: Boolean): Column = {
    // bands > numHashes would make every band key an empty slice (ALL
    // documents collide, the bucket cap then drops everything — zero
    // recall, silently); a non-divisible geometry would silently use
    // only rows*bands of the requested hashes, changing the S-curve.
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes: numHashes=$numHashes bands=$bands")
    val toks = tokenSet(text)
    val rows = numHashes / bands
    val sig =
      if (md5Basis) graftFn("graft_minhash_md5", toks, lit(numHashes))
      else minhashSignature(toks, numHashes)
    array((0 until bands).map { b =>
      val sl = slice(sig, b * rows + 1, rows)
      struct(lit(b).as("band"),
        (if (md5Basis) sl else xxhash64(lit(b), sl)).as("key"))
    }: _*)
  }

  /** Sorted token-hash array of a document — the exact-Jaccard
    * verification operand every banded detector carries.
    */
  private[graft] def tokenHashes(text: Column): Column =
    graftFn("graft_token_hashes", TextAnalysis.tokens(text))

  /** `(id, band, key)` rows exploded from a band-key array column
    * (`bandKeyArray`, or the sign-LSH twin `Similarity.lshKeyArray`),
    * carrying `carry` columns along.
    */
  private[graft] def explodeKeys(df: DataFrame, idCol: String,
      keysCol: String, idAs: String, carry: String*): DataFrame =
    df.select(col(idCol).as(idAs) +: explode(col(keysCol)).as("__bk") +:
        carry.map(col): _*)
      .select(col(idAs) +: col("__bk.band").as("band") +:
        col("__bk.key").as("key") +: carry.map(col): _*)

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard on the
    * token sets so the output is deterministic given the banding config.
    *
    * Verification is BUCKET-LOCAL: the token-hash arrays ride the band
    * shuffle next to the band keys (computed in the same scan-side pass
    * as the signature) and exact Jaccard evaluates during the in-bucket
    * pair expansion. Array movement is therefore per (document x band) —
    * corpus-proportional — instead of per candidate pair: verifying
    * through id-equi-joins against a token projection repartitions two
    * arrays per CANDIDATE, and a clique-heavy corpus has far more
    * candidates than documents (measured at 20x replicas: 15.9M
    * candidate pairs from 100k docs — a ~14 GB pair-proportional verify
    * shuffle collapsed to ~200 MB riding the band exchange; q27-shape
    * sf0.1 wall time −40%). The threshold filter runs BEFORE the
    * cross-band distinct, so the dedup exchange carries only survivors.
    * A pair colliding in two bands evaluates the kernel twice — same
    * arrays, bitwise-identical double — which the distinct collapses.
    *
    * @param maxBucket safety cap: buckets larger than this are dropped
    *                  and counted under the `lsh_candidates` CapMetrics
    *                  tag (mass-duplicate clusters explode
    *                  quadratically; at 100 TB they must be handled by
    *                  exact dedup first)
    * @param md5Basis  use md5-derived MinHash values and raw signature
    *                  slices as band keys — identical plan shape, but
    *                  every value is reproducible in the DuckDB oracle,
    *                  so the LSH pipeline itself can be hash-checked
    *                  (q52). The default xxh64 basis is faster.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 4,
      md5Basis: Boolean = false, maxBucket: Int = 1000): DataFrame =
    scoredCandidatePairs(df, idCol, textCol, numHashes, bands, md5Basis,
      maxBucket)
      .where(col("jaccard") >= threshold)
      .distinct()

  /** The shared banded front half of [[minhashNearDups]] and
    * [[lshRecallAudit]]: in-bucket candidate pairs with their exact
    * Jaccard, NOT yet threshold-filtered or cross-band deduplicated —
    * minhashNearDups filters BEFORE its distinct (so the dedup exchange
    * carries only survivors), the audit needs the unfiltered candidate
    * set once for both of its counters.
    */
  private def scoredCandidatePairs(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int, md5Basis: Boolean,
      maxBucket: Int): DataFrame =
    scoredBucketPairs(bandedKeys(spread(df), idCol, textCol, numHashes,
      bands, md5Basis, carry = Seq("__toks" -> tokenHashes(col(textCol)))),
      maxBucket)

  /** The bucket/pair half of [[scoredCandidatePairs]] over precomputed
    * `(__id, band, key, __toks)` member rows — the keyed ingest gate
    * feeds it the rows exploded from its once-computed batch features
    * instead of hashing the batch again.
    */
  private[graft] def scoredBucketPairs(keyed: DataFrame,
      maxBucket: Int): DataFrame = {
    // One shuffle: gather each bucket's members, emit its pairs inline.
    // Over-cap buckets are dropped and counted under the
    // "lsh_candidates" CapMetrics tag — never silent. The size >= 2
    // filter runs first (codegen'd) so the singleton majority never pays
    // the counting UDF, and drop counts are unchanged for any cap >= 2.
    // maxBucket is the legitimate->pathological bucket-size boundary; a
    // corpus with real >1000-member near-dup families should raise it
    // (or run exact dedup first, which is what oversized buckets mean).
    val buckets = CapMetrics.cappedWhere(
        keyed.groupBy(col("band"), col("key"))
          .agg(collect_list(struct(col("__id"), col("__toks"))).as("__ms"))
          .where(size(col("__ms")) >= 2),
        "lsh_candidates", size(col("__ms")), maxBucket, memberRows = false)
    buckets
      .select(explode(flatten(transform(col("__ms"), (x, i) =>
        transform(slice(col("__ms"), i + 2, size(col("__ms"))), y =>
          struct(least(x("__id"), y("__id")).as("idA"),
            greatest(x("__id"), y("__id")).as("idB"),
            graftFn("graft_jaccard_sorted", x("__toks"), y("__toks"))
              .as("jaccard"))))))
        .as("__p"))
      .select(col("__p.idA").as("idA"), col("__p.idB").as("idB"),
        col("__p.jaccard").as("jaccard"))
  }

  /** Incremental near-dup: batch documents whose token-set Jaccard with
    * some existing corpus document reaches `threshold`, found via
    * MinHash-LSH band-key collisions between the two sides — the
    * near-duplicate complement of [[incrementalDedup]] for continuous
    * ingest (drop or link batch docs that paraphrase the corpus).
    *
    * Scale: band keys are computed scan-side on BOTH sides; the join is
    * an equi-join on (band, key). Precompute the corpus's band keys once
    * and store them bucketed by (band, key) ([[graft.io.Layouts]]) and
    * only the batch side shuffles — the corpus key table is touched as a
    * co-partitioned build side, reused by every future batch. Corpus
    * buckets above `maxBucket` are dropped (mass duplication belongs to
    * exact dedup), bounding per-key join fan-out.
    *
    * @return (idA = batch id, idB = corpus id, jaccard ≥ threshold)
    */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int = 16,
      bands: Int = 8, maxBucket: Int = 10000,
      md5Basis: Boolean = false): DataFrame =
    // UNCAPPED keys here, not corpusBandKeys: the probe-time re-cap in
    // incrementalNearDupsWithKeys drops exactly the over-cap groups
    // among the probed keys, so a build-time cap on the inline path is
    // redundant work — a full-corpus groupBy + anti-join whose drops
    // the probe cap repeats (the q74 finding, Similarity
    // .incrementalCosineNearDups). corpusBandKeys keeps its cap for
    // the build-once-store-bucketed workflow.
    // ACCOUNTING WINDOW: the "incremental_neardup_corpus" CapMetrics tag
    // on this path now counts only over-cap groups the batch actually
    // PROBED (the probe-time re-cap), not every over-cap group in the
    // corpus as the pre-round-7 build-time cap did — session drop totals
    // for the same data are lower than round-6 runs by the unprobed
    // over-cap groups. Don't compare the two eras' drop counts 1:1.
    incrementalNearDupsWithKeys(batch,
      uncappedCorpusKeys(corpus, idCol, textCol, numHashes, bands, md5Basis),
      corpus, idCol, textCol, threshold, numHashes, bands, maxBucket,
      md5Basis)

  /** The uncapped `(idCol, band, key)` MinHash band-key projection the
    * capped build and the inline probe both derive from — ONE
    * definition so the two paths can never desynchronize on key shape.
    */
  private def uncappedCorpusKeys(corpus: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int,
      md5Basis: Boolean): DataFrame =
    bandedKeys(spread(corpus), idCol, textCol, numHashes, bands, md5Basis)
      .select(col("__id").as(idCol), col("band"), col("key"))

  /** The corpus's capped `(idCol, band, key)` MinHash band-key table —
    * the steady-state ingest asset: compute it ONCE, store it, and feed
    * the stored table to [[incrementalNearDupsWithKeys]] so every
    * future batch probes it without the 100 TB corpus being re-scanned,
    * re-hashed, or re-shuffled. Over-cap buckets are dropped at BUILD
    * time (and counted — [[CapMetrics]]), so the stored table is
    * already probe-ready. Append new survivors' keys after each batch
    * to keep it current.
    *
    * Store layout: plain parquet, the table the keyed ingest gates
    * append to. The probe semi-joins the stored table against a
    * BROADCAST of the batch's keys, so bucketing
    * (`Layouts.writeBucketed(keys, t, "band", N, "key")`) has no
    * exchange to elide there; it pays only where the stored table is
    * shuffle-joined on (band, key) (LayoutsSpec pins that plan).
    */
  def corpusBandKeys(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 8, maxBucket: Int = 10000,
      md5Basis: Boolean = false): DataFrame =
    CapMetrics.cappedByCount(
        uncappedCorpusKeys(corpus, idCol, textCol, numHashes, bands,
          md5Basis),
        "incremental_neardup_corpus", Seq("band", "key"), maxBucket)

  /** [[incrementalNearDups]] against a PRECOMPUTED (usually persisted
    * and bucketed) corpus band-key table: only the batch side computes
    * signatures and shuffles; the corpus contributes the key table as a
    * build side (zero-exchange when bucketed by (band, key)) plus one
    * narrow text scan for the exact-Jaccard verification of the
    * candidate sliver.
    *
    * The probe RE-CAPS stored buckets at `maxBucket`: a table built from
    * per-batch capped increments ([[graft.streaming.EventStreams.ingestNearDupKeyed]]
    * appends) can accumulate a hot key past any single batch's cap, and
    * an uncapped probe would let join fan-out grow with corpus age —
    * uncounted. The stored table is first SEMI-JOINED down to the
    * (band, key) set the batch actually probes (batch-sized, broadcast),
    * so the re-cap ([[CapMetrics.cappedByCount]]: count agg + over-cap
    * anti-join, never a buffering window) runs over the probed sliver —
    * per-probe work independent of corpus size even on a plain
    * (unbucketed) key table. The cap decision is unchanged: the
    * semi-join keeps every member of a surviving key, so each probed
    * bucket's count equals its count in the full table.
    */
  def incrementalNearDupsWithKeys(batch: DataFrame, corpusKeys: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String, threshold: Double,
      numHashes: Int = 16, bands: Int = 8, maxBucket: Int = 10000,
      md5Basis: Boolean = false): DataFrame = {
    // batchKeys is referenced by the probe's broadcast key set AND its
    // join back; pinned, the signature kernel runs once
    val batchKeys = pinSmall(bandedKeys(spread(batch), idCol, textCol,
        numHashes, bands, md5Basis)
      .select(col("__id").as("idA"), col("band"), col("key")))
    val cands = probeCandidates(batchKeys, corpusKeys, idCol, maxBucket,
      "incremental_neardup_corpus", pinSmall)
    verifyJaccardCandidates(
      batch.select(col(idCol).as("idA"), tokenHashes(col(textCol)).as("__ta")),
      cands, corpus, idCol, textCol, threshold)
  }

  /** Candidate generation of the keyed probes (text and embedding):
    * semi-join the stored key table down to the batch's `(band, key)`
    * set, re-cap the probed sliver under `capTag`, join back to the
    * batch keys `(idA, band, key)`.
    *
    * `hold` keeps the two frames the downstream plan references twice —
    * the probed sliver (count agg + anti-join inside cappedByCount;
    * unheld, each leg re-scans the key table) and the capped candidate
    * pairs (verify's corpus semi-join + pair join). Both are
    * batch-proportional, never corpus-proportional. The one-shot probes
    * pass [[pinSmall]]; the keyed ingest gate passes its batch-scoped
    * plan-leaf materializer.
    */
  private[graft] def probeCandidates(batchKeys: DataFrame,
      corpusKeys: DataFrame, idCol: String, maxBucket: Int, capTag: String,
      hold: DataFrame => DataFrame): DataFrame = {
    val probed = hold(corpusKeys.join(
      broadcast(batchKeys.select(col("band"), col("key")).distinct()),
      Seq("band", "key"), "left_semi"))
    val cappedKeys = CapMetrics.cappedByCount(probed, capTag,
      Seq("band", "key"), maxBucket)
    hold(batchKeys
      .join(cappedKeys.select(col(idCol).as("idB"), col("band"), col("key")),
        Seq("band", "key"))
      .select(col("idA"), col("idB"))
      .distinct())
  }

  /** Verification stage of the keyed probe over the batch's `(idA,
    * __ta)` token hashes: the corpus side is semi-joined down to the
    * DISTINCT candidate docs BEFORE the tokenize+hash kernel runs, so
    * the kernel evaluates min(candidate docs, corpus) times — never
    * corpus-proportional (an unrestricted corpus projection pays the
    * kernel for every corpus document per probe: measured as the
    * dominant term of the keyed probe's growth) and never
    * pair-proportional (a clique idB would re-tokenize per matching
    * idA). cands is referenced twice; [[probeCandidates]] holds it, so
    * the candidate subplan evaluates once.
    */
  private[graft] def verifyJaccardCandidates(batchToks: DataFrame,
      cands: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val corpusHashed = corpus
      .join(cands.select(col("idB").as(idCol)).distinct(), Seq(idCol),
        "left_semi")
      .select(col(idCol).as("idB"), tokenHashes(col(textCol)).as("__tb"))
    cands
      .join(batchToks, Seq("idA"))
      .join(corpusHashed, Seq("idB"))
      .select(col("idA"), col("idB"),
        graftFn("graft_jaccard_sorted", col("__ta"), col("__tb"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact blocked near-dup: all pairs within a blocking key above a
    * Jaccard threshold. Quadratic within blocks — the oracle-checkable
    * ground truth for [[minhashNearDups]]; use only with selective blocks.
    */
  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // Each document's token set is hashed once into a sorted long array
    // (graft_token_hashes); the N² stage then compares longs, not
    // strings. Set sizes are distinct-hash counts: a 64-bit in-pair
    // collision (P ≈ n²/2⁶⁴ per pair) is the only way this can deviate
    // from string-set Jaccard.
    val t = spread(df).select(col(blockCol).as("__blk"), col(idCol).as("__id"),
      graftFn("graft_token_hashes", TextAnalysis.tokens(col(textCol)))
        .as("__toks"))
    val a = t.select(col("__blk"), col("__id").as("idA"), col("__toks").as("__ta"),
      size(col("__ta")).as("__sa"))
    val b = t.select(col("__blk"), col("__id").as("idB"), col("__toks").as("__tb"),
      size(col("__tb")).as("__sb"))
    // Broadcast the build side (a handful of block keys would otherwise
    // hash-shuffle every pair through as many tasks as there are
    // blocks); the probe side is already spread. (This exact-quadratic
    // op is the test-scale ground truth; at corpus scale use
    // minhashNearDups, whose bucket keys are high-cardinality.)
    a.join(broadcast(b), Seq("__blk"))
      .where(col("idA") < col("idB"))
      // Exact size prefilter: J(A,B) ≤ min/max, and double rounding is
      // monotonic, so no pair with J ≥ t is pruned — same result, but the
      // expensive intersect/union runs on a fraction of the pairs.
      .where(least(col("__sa"), col("__sb")).cast("double")
        / greatest(col("__sa"), col("__sb")) >= threshold)
      .select(col("idA"), col("idB"),
        graftFn("graft_jaccard_sorted", col("__ta"), col("__tb")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------------- cluster collapse

  /** Connected components over near-dup pairs via alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): each round rewrites the EDGE
    * set toward stars rooted at component minima, converging in
    * O(log n) rounds regardless of component diameter — the property
    * that matters at 100 TB, where a chain-shaped similarity graph
    * makes one-hop min-label propagation O(diameter) (measured: a
    * 405-node sparse component took 36 label-propagation rounds but 5
    * star rounds). Every round is a bounded set of balanced shuffles on
    * the current edge set.
    *
    * Rounds are materialized through explicitly persisted RDDs, not
    * `localCheckpoint`: under AQE an eager localCheckpoint was measured
    * re-executing the full history (cost ×3 per round → exponential).
    *
    * Adaptive small-graph fast path: the edge count is CC's first
    * action anyway (the fixpoint signature), so when the deduplicated
    * edge set is at most `driverMaxEdges` (default 1M ≈ 16 MB — a
    * bounded, documented driver allocation) the labels come from a
    * driver-side union-find with the identical min-label semantics —
    * one job instead of O(log n) rounds of 2–3 jobs each, which at
    * test scale is pure scheduling overhead (measured: ~2.5 s of a
    * 6.4 s pipeline for a 25k-edge graph). A 100 TB duplicate graph
    * exceeds the threshold and takes the distributed large/small-star
    * path; parity between the two is spec-pinned.
    *
    * @param pairs (idA, idB) near-dup pairs (any of the pair detectors)
    * @return (id, label) for every id appearing in `pairs`
    */
  def clusterLabels(pairs: DataFrame, maxIter: Int = 60,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    var lastRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    def hold(df: DataFrame): DataFrame = {
      val (leaf, r) = materialize(df)
      lastRdd = r
      leaf
    }

    // undirected edge set, one row per edge, no self-loops
    var star = hold(
      pairs.select(col("idA").as("a"), col("idB").as("b"))
        .where(col("a") =!= col("b")).distinct())
    val initialRdd = lastRdd
    // node set from the PERSISTED edges — never re-evaluates the
    // (expensive) upstream pair-detection plan; pair detectors emit
    // idA < idB, so self-pairs (which the edge set drops) don't occur
    val nodes = star.select(col("a").as("id"))
      .union(star.select(col("b").as("id"))).distinct()
    // star only shrinks toward the fixpoint star graph; (count, Σ hash a,
    // Σ hash b) equality is the cheap fixpoint signal, and the aggregate
    // is the action that populates the round's cache. Hashing keeps the
    // signature type-agnostic (string ids have no sum) and the decimal
    // accumulator overflow-proof at any edge count.
    def signature(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a")).cast("decimal(38,0)")),
        sum(xxhash64(col("b")).cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
    }
    var prevSig = signature(star)
    // the driver fast path round-trips ids through Long, which is only
    // faithful for integral id columns: a string id would NPE on a
    // non-numeric value and, worse, silently change survivor selection
    // on numeric strings (lexicographic "10" < "9" vs numeric 9 < 10,
    // "007" re-emerging as "7"). Non-integral ids take the distributed
    // star path, whose least()/min() semantics are the column type's.
    val idType = star.schema("a").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralIds && prevSig._1 <= driverMaxEdges) {
      // small graph: labels from the persisted edges in one collect
      val edges = star
        .select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      initialRdd.unpersist(blocking = false)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union by MIN root: the component label IS the min id, exactly
        // the distributed fixpoint's labeling
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodeIds = edges.iterator.flatMap(e => Iterator(e._1, e._2))
        .toArray.distinct
      import spark.implicits._
      return nodeIds.toSeq.map(id => (id, find(id))).toDF("id", "label")
        .select(col("id").cast(idType), col("label").cast(idType))
    }
    var iter = 0
    var converged = prevSig._1 == 0
    val wA = Window.partitionBy(col("a"))
    while (iter < maxIter && !converged) {
      // large-star: every node's strictly-larger neighbors attach to the
      // minimum of its neighborhood (incl. itself). One window pass per
      // phase — the neighborhood minimum rides the same exchange as the
      // grouping, instead of a groupBy + join-back (2 shuffles → 1).
      val bidir = star.union(star.select(col("b").as("a"), col("a").as("b")))
      val large = bidir
        .withColumn("m", least(col("a"), min(col("b")).over(wA)))
        .where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b"))
      // small-star: orient (big → small); every node's smaller neighbors
      // and the node itself attach to the minimum of that set
      val oriented = large.select(
        greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      val withM = oriented
        .withColumn("m", min(col("b")).over(wA))
        .withColumn("rn", row_number().over(wA.orderBy(col("b"))))
      val small = withM.where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(withM.where(col("rn") === 1)
          .select(col("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .distinct()
      val prevRdd = lastRdd
      star = hold(small)
      val sig = signature(star)
      // keep the initial edges cached: `nodes` reads them in the final join
      if (prevRdd ne initialRdd) prevRdd.unpersist(blocking = false)
      converged = sig == prevSig
      prevSig = sig
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc] round $iter sig=$sig converged=$converged")
    }
    // fixpoint edges form stars (v → component minimum); min-collapse is
    // a no-op there but keeps labels well-defined if maxIter cut early
    val finalStarRdd = lastRdd
    val labels = hold(
      nodes.join(star.groupBy(col("a").as("id")).agg(min(col("b")).as("label")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label")))
    labels.count() // populate before releasing the edge caches
    initialRdd.unpersist(blocking = false)
    if (finalStarRdd ne initialRdd) finalStarRdd.unpersist(blocking = false)
    // the node-sized labels RDD stays cached for the caller; Spark's
    // ContextCleaner unpersists it once the returned frame is unreachable
    labels
  }

  /** Collapse near-dup clusters to one representative each: drops every
    * row whose id is in a pair but is not its cluster's minimum id.
    * Rows never seen in a pair survive untouched. The standard final
    * step after LSH/SimHash pair detection in a dedup pipeline.
    */
  def collapseNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = clusterLabels(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[collapseNearDups]] with a QUALITY-weighted survivor rule: each
    * cluster keeps its highest-`scoreCol` member (ties to the lowest id)
    * instead of the lowest id — what production dedup actually ships,
    * since the duplicate worth keeping is the best-quality copy, not the
    * one that happened to get the smallest id. Rows never seen in a pair
    * survive untouched.
    *
    * Scale: cluster labels are node-sized ([[clusterLabels]]); the
    * winner cut is one row_number window partitioned by cluster label
    * over paired rows only (pair-graph-sized, not corpus-sized), and
    * unpaired rows pass through an anti join against the same label
    * table.
    */
  def collapseNearDupsBy(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    // "__cc_label", not "label": the caller's frame may carry a label
    // column of its own (embeddings do)
    val labels = clusterLabels(pairs)
      .select(col("id").as(idCol), col("label").as("__cc_label"))
    val members = df.join(labels, Seq(idCol))
    val winners = members
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__cc_label"))
          .orderBy(col(scoreCol).desc, col(idCol))))
      .where(col("__rn") === 1)
      .drop("__rn", "__cc_label")
    val unpaired = df.join(labels.select(col(idCol)), Seq(idCol), "left_anti")
    unpaired.unionByName(winners)
  }

  /** The end-to-end near-dup dedup pipeline an LLM-data user actually
    * runs: exact-dup pre-collapse → MinHash-LSH candidate pairs → exact
    * Jaccard verification → connected-component collapse → survivor rows
    * (lowest id per cluster).
    *
    * Pre-collapsing exact duplicates first is the load-bearing step at
    * 100 TB: mass-duplicated documents otherwise all land in the same
    * LSH buckets and blow the bucket cap. It does not change the result —
    * exact dups have identical signatures, so the surviving
    * representative (lowest id per text, the same survivor rule) reaches
    * exactly the buckets its duplicates would have, and the cluster
    * minimum is unchanged. One md5 hash-shuffle + one banded shuffle +
    * the O(log diameter) CC rounds; no stage is quadratic in the corpus.
    */
  def nearDupPipeline(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 4,
      md5Basis: Boolean = false): DataFrame = {
    val repr = exactDedup(df, idCol, textCol)
    val pairs = minhashNearDups(repr, idCol, textCol, threshold, numHashes,
      bands, md5Basis)
    collapseNearDups(repr, idCol, pairs)
  }

  /** [[nearDupPipeline]] (xxh64 basis) over precomputed per-document
    * features: `features` carries each row's band-key array `__bk`
    * ([[bandKeyArray]] at the caller's geometry) and token hashes
    * `__toks` ([[tokenHashes]]), so a caller that also probes and
    * stores those keys hashes its rows once. Survivor rules are
    * nearDupPipeline's: [[exactDedup]] first, [[minhashNearDups]]'
    * default bucket cap, then [[collapseNearDups]]. Keeps every column
    * of `features`.
    */
  private[graft] def nearDupCollapse(features: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val repr = exactDedup(features, idCol, textCol)
    val keyed = explodeKeys(repr, idCol, "__bk", "__id", "__toks")
    val pairs = scoredBucketPairs(keyed, maxBucket = 1000)
      .where(col("jaccard") >= threshold)
      .distinct()
    collapseNearDups(repr, idCol, pairs)
  }

  /** Cross-source duplication audit: for every unordered pair of
    * `groupCol` values, how many verified near-duplicate links
    * ([[minhashNearDups]]) cross between them — the "how much of source
    * B is already in source A" question a curation run answers before
    * paying to ingest a new source (and the overlap matrix behind
    * mixture down-weighting of mutually-redundant sources).
    *
    * Scale shape: rides the banded pipeline (one (band, key) shuffle,
    * capped buckets, candidate-only verification); the group labels
    * join pair-sized frames, and the output aggregate is
    * |groups|²-sized — a report, not a corpus.
    *
    * @return `source_a, source_b, n_links` (source_a < source_b), only
    *         pairs with at least one link
    */
  def crossGroupNearDupMatrix(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, threshold: Double, numHashes: Int = 64,
      bands: Int = 4, md5Basis: Boolean = false): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, threshold, numHashes,
      bands, md5Basis)
    val g = df.select(col(idCol), col(groupCol))
    pairs
      .join(g.select(col(idCol).as("idA"), col(groupCol).as("__ga")), Seq("idA"))
      .join(g.select(col(idCol).as("idB"), col(groupCol).as("__gb")), Seq("idB"))
      .where(col("__ga") =!= col("__gb"))
      .select(least(col("__ga"), col("__gb")).as("source_a"),
        greatest(col("__ga"), col("__gb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_links"))
  }

  /** Corpus-level content overlap between every pair of `groupCol`
    * values: the exact Jaccard of the groups' distinct content-key sets
    * — `shingleN = None` keys on whole-document fingerprints ("how many
    * of source B's documents are verbatim in source A"), `Some(n)` keys
    * on word n-gram shingles ("how much of B's PHRASING does A already
    * cover") — the corpus-vs-corpus complement of the per-document
    * [[crossGroupNearDupMatrix]], and the number a mixture designer
    * reads before paying for a new source.
    *
    * Scale: ONE shuffle of (content-key, group) — corpus-proportional,
    * map-side-combined by the distinct — then every aggregate is
    * per-key group sets (≤ |groups| entries) and the |groups|²-sized
    * report. Pair emission reuses the in-bucket explode of
    * [[minhashNearDups]]; group sets are sorted so `source_a < source_b`
    * deterministically.
    *
    * @return `source_a, source_b, n_common, n_a, n_b, jaccard` — counts
    *         are exact distinct-key cardinalities; `jaccard` divides
    *         them (n_common / (n_a + n_b − n_common))
    */
  def groupContentOverlap(df: DataFrame, textCol: String, groupCol: String,
      shingleN: Option[Int] = None): DataFrame = {
    val keyed = shingleN match {
      case Some(n) => spread(df).select(
        explode(shingles(col(textCol), n)).as("__k"), col(groupCol).as("__g"))
      case None => spread(df).select(
        md5(col(textCol)).as("__k"), col(groupCol).as("__g"))
    }
    val perKey = keyed
      .groupBy(col("__k"))
      .agg(array_sort(collect_set(col("__g"))).as("__gs"))
    val sizes = perKey
      .select(explode(col("__gs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    perKey
      .where(size(col("__gs")) >= 2)
      .select(explode(flatten(transform(col("__gs"), (x, i) =>
        transform(slice(col("__gs"), i + 2, size(col("__gs"))),
          y => struct(x.as("source_a"), y.as("source_b")))))).as("__p"))
      .groupBy(col("__p.source_a").as("source_a"),
        col("__p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"), col("n_docs").as("n_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n_docs").as("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"), col("n_a"),
        col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Shared-lede detection: groups of documents whose first `k` tokens
    * are identical — the syndication/mirror pattern (same opening
    * paragraph, diverging bodies) that whole-document fingerprints miss
    * and MinHash only catches when the whole body is similar. The
    * report feeds a review or a prefix-aware dedup pass.
    *
    * Scale: one groupBy shuffle on the k-token prefix (bounded-width
    * key, map-side combined); output is only groups of ≥ 2.
    *
    * @return `prefix, n_docs, rep_id` (the group's minimum id)
    */
  def prefixDupGroups(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    spread(df)
      .select(col(idCol).as("__id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col(textCol)), 1, k))
          .as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("__id")).as("rep_id"))
      .where(col("n_docs") >= 2)

  /** Shingle-containment pairs: document pairs where the smaller
    * document's distinct n-gram shingle set is mostly contained in the
    * larger one's — the quotation/subset pattern symmetric Jaccard
    * misses entirely (a short document pasted inside a long one has
    * J ≈ |A|/|B| ≈ 0 but containment ≈ 1, and MinHash estimates J).
    *
    * Exact, not sketched: shared-shingle counts come from ONE
    * (shingle) shuffle whose buckets carry `(id, setSize)` structs, so
    * `containment = shared / min(|A|, |B|)` is integer-exact with a
    * single IEEE division — hash-gateable cross-engine. Per-document
    * set sizes ride the shingle exchange next to the ids (the in-bucket
    * carry pattern), so nothing re-joins the corpus. The pair-count
    * aggregation is proportional to co-occurring pairs, which the
    * bucket cap bounds: shingles present in more than
    * `maxDocsPerShingle` documents are dropped with CapMetrics
    * accounting — at corpus scale those are boilerplate
    * ([[boilerplateShingles]] names them), and a genuinely contained
    * pair also shares its rarer shingles.
    *
    * @return `idA < idB` with both set sizes, the exact shared-shingle
    *         count, and `containment = shared / min(n_a, n_b)`
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.5,
      maxDocsPerShingle: Int = 1000): DataFrame = {
    val ex = spread(df)
      .select(col(idCol).as("__id"), shingles(col(textCol), n).as("__sgl"))
      .select(col("__id"), size(col("__sgl")).as("__n"),
        explode(col("__sgl")).as("__s"))
    val buckets = CapMetrics.cappedWhere(
      ex.groupBy(col("__s"))
        .agg(collect_list(struct(col("__id"), col("__n"))).as("__ms"))
        .where(size(col("__ms")) >= 2),
      "containment_shingles", size(col("__ms")), maxDocsPerShingle,
      memberRows = false)
    val pairs = buckets
      .select(explode(flatten(transform(col("__ms"), (x, i) =>
        transform(slice(col("__ms"), i + 2, size(col("__ms"))), y =>
          when(x("__id") < y("__id"),
            struct(x("__id").as("idA"), y("__id").as("idB"),
              x("__n").as("nA"), y("__n").as("nB")))
            .otherwise(
              struct(y("__id").as("idA"), x("__id").as("idB"),
                y("__n").as("nA"), x("__n").as("nB")))))))
        .as("__p"))
      .select(col("__p.idA").as("idA"), col("__p.idB").as("idB"),
        col("__p.nA").as("n_a"), col("__p.nB").as("n_b"))
    pairs
      .groupBy(col("idA"), col("idB"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("idA"), col("idB"), col("n_a"), col("n_b"), col("shared"),
        (col("shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** Banding-geometry audit: recall and candidate efficiency of
    * MinHash-LSH against the exact Jaccard ground truth on the SAME
    * input — "measure, don't guess" for the (numHashes, bands) choice.
    * The verified detector's output is exactly `candidates ∩ truth`
    * (verification computes true Jaccard), so
    * `recall = n_detected / n_truth` and
    * `candidate_precision = n_detected / n_candidates` (how much of the
    * verification work banding wastes on sub-threshold pairs).
    *
    * Scale: the ground truth is a quadratic all-pairs pass — run the
    * audit on a [[graft.ops.Sampling.hashSample]] of the corpus. A
    * banding collision is a per-PAIR event, independent of corpus size,
    * so sampled recall estimates full-corpus recall; only the bucket
    * cap's behavior (mass-duplication) needs a full-corpus read, and
    * that is what CapMetrics reports.
    *
    * @return one row: `n_truth, n_candidates, n_detected, recall,
    *         candidate_precision` (integer counts + single divisions);
    *         a zero denominator (no true pairs / no candidates) reads
    *         as 1.0 — nothing to find counts as found
    */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 4,
      md5Basis: Boolean = false): DataFrame = {
    val truth = blockedJaccardPairs(
      df.withColumn("__blk", lit(1)), idCol, textCol, "__blk", threshold)
    // ONE banded pass serves both counters: candidates = distinct
    // scored pairs (jaccard is functionally determined by the pair),
    // detected = the threshold filter of the same distinct set (the
    // same set minhashNearDups emits: filter-before- vs after-distinct
    // commute). Both counters fold into ONE aggregation pass (count +
    // conditional count), so the pair-proportional frame is referenced
    // once — no pin (a pin would violate pinSmall's batch-proportional
    // contract: 15.9M pairs from 100k docs at 20× replicas) and no
    // second counting pass.
    val scored = scoredCandidatePairs(df, idCol, textCol,
      numHashes, bands, md5Basis, maxBucket = 1000).distinct()
    // zero-denominator guard: a corpus with no pairs at the threshold
    // (or no candidates) reads as a PERFECT detector — recall /
    // candidate_precision 1.0 — rather than an unexplained NULL the
    // "@return recall" contract never mentions
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(scored.agg(count(lit(1)).as("n_candidates"),
        count(when(col("jaccard") >= threshold, lit(1)))
          .as("n_detected")))
      .select(col("n_truth"), col("n_candidates"), col("n_detected"),
        when(col("n_truth") === 0, lit(1.0))
          .otherwise(col("n_detected").cast("double") / col("n_truth"))
          .as("recall"),
        when(col("n_candidates") === 0, lit(1.0))
          .otherwise(col("n_detected").cast("double") / col("n_candidates"))
          .as("candidate_precision"))
  }

  /** Any-alignment repeated-substring removal — the ExactSubstr dedup
    * shape (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): a k-token window is fingerprinted at
    * EVERY position (not [[chunkDedup]]'s fixed k-aligned chunks), the
    * globally-first occurrence of each fingerprint survives ((doc_id,
    * pos) lexicographic — deterministic on any layout), and every
    * token covered by a non-first window is dropped, including
    * within-document self-repetition. Catches shifted copies that
    * chunk alignment misses.
    *
    * Scale: positions are corpus-token-proportional (one row per
    * token, ×1 not ×k — the window hash is computed scan-side); ONE
    * wide shuffle on the fingerprint for the first-occurrence window;
    * covered-index expansion is dup-density-proportional. The rebuild
    * is a per-doc HOF filter — narrow. This is the 100 TB plan the
    * suffix-array original trades against: no global sort, no
    * suffix array, at the cost of k-bounded (not unbounded) match
    * length.
    *
    * Fingerprint basis: `md5Basis = true` (default) hashes each window
    * with md5 folded to its 16-byte binary — DuckDB-reproducible, the
    * oracle basis (q138). `md5Basis = false` is the PRODUCTION basis:
    * `xxhash64` longs, an ~8× cheaper per-position kernel and half the
    * shuffled key bytes again; a 64-bit collision merges two unrelated
    * windows' groups (≈ n²/2⁶⁵ — negligible beside the near-dup
    * detectors' same exposure), so results are identical except with
    * that probability (the q52b/q67b/q71b twin discipline; equality on
    * the test corpus is spec-pinned).
    *
    * `maxGroup` caps the fingerprint fan-out — the round-11 weak
    * finding: unlike every sibling detector (minhash `maxBucket`,
    * containment `maxDocsPerShingle`, IVF cell caps), a hot fingerprint
    * here had NO bound, and on a mass-duplicated corpus one viral
    * k-gram produces an unbounded first-occurrence window group
    * (measured 17–42× growth on 10–20× replica fixtures). Fingerprints
    * occurring more than `maxGroup` times are dropped WHOLE — none of
    * their windows mark tokens as duplicates, so every copy survives
    * the rewrite untouched (never a partial group: a partial drop would
    * remove some copies of a viral phrase and keep others, an arbitrary
    * split) — and the drops are accounted by [[CapMetrics]] under
    * `exact_substr_fp`. An over-cap fingerprint at production scale IS
    * boilerplate (a phrase repeated 100k times is template chrome,
    * not a document-level copy): route it to [[boilerplateShingles]] /
    * span removal rather than first-occurrence dedup.
    *
    * The cap is FREE and therefore DEFAULT-ON (round 13; it shipped
    * opt-in in r12 when its machinery — a second gram-stream pass
    * through [[CapMetrics.cappedByCount]]'s count-agg + anti-join —
    * measured +85% on the sf0.1 rewrite): the group size now rides the
    * first-occurrence window itself as a `count(*)` over the SAME
    * (partition, order) spec with an unbounded frame, so Spark
    * evaluates it in the ONE WindowExec the operator already pays —
    * same shuffle, same sort, same partition buffer, no extra pass
    * (r13 probe: capped-vs-uncapped sf0.1 delta within noise). The
    * buffering-OOM argument against cap windows (see `cappedByCount`'s
    * scaladoc) does not apply: no NEW window is stacked. Opt out with
    * `maxGroup = Int.MaxValue` (exact at any group size, unbounded
    * hot-group cost); the r12 bench scale case runs maxGroup = 10 on
    * the 20×-replica mass-dup fixture (3.8× growth vs the uncapped
    * twins' 7–24×, drops accounted).
    *
    * BEHAVIOR CHANGE (round 13, restated per the r13 advisor): the
    * default moved from exact (`maxGroup = Int.MaxValue`, r12) to
    * capped at 65536. Fingerprint groups ABOVE the cap are no longer
    * deduplicated by default — every copy survives, with only the
    * CapMetrics accounting and its WARN log as the signal. Callers on
    * mass-duplication corpora who relied on the exact rewrite must
    * pass `maxGroup = Int.MaxValue` explicitly. The capped semantics
    * are oracle-pinned (the q138 SQL states the cap predicate) and
    * spec-pinned; see SCALE.md "Release notes".
    *
    * @return `idCol, n_tokens, n_removed, clean_text`
    */
  /** [[exactSubstrDedup]]'s default fingerprint-group cap: far above
    * any document-level duplication the first-occurrence rewrite is
    * meant for (the oracle fixtures' largest group is in the tens), so
    * the default changes nothing at verify scales — encoded in the
    * q138 oracle SQL, which states the identical `count(*) OVER
    * (PARTITION BY h) <= cap` predicate — while bounding what one
    * viral k-gram can cost at corpus scale.
    */
  val DefaultExactSubstrMaxGroup: Int = 65536

  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, md5Basis: Boolean = true,
      maxGroup: Int = DefaultExactSubstrMaxGroup): DataFrame = {
    val toks = spread(df).select(col(idCol).as("__id"),
      TextAnalysis.tokens(col(textCol)).as("__t"))
    // one (pos, fingerprint) row per window start; docs shorter than k
    // have none (nothing to dedup at window length k)
    // unhex folds the 32-char md5 string to its 16-byte binary BEFORE
    // the rows reach the exchange — same groups (bijective), half the
    // shuffled key bytes on the operator's one wide shuffle
    def fp(window: Column): Column =
      if (md5Basis) unhex(md5(window)) else xxhash64(window)
    val grams = toks.select(col("__id"),
        explode(when(size(col("__t")) >= k,
            transform(sequence(lit(0), size(col("__t")) - k), p =>
              struct(p.as("pos"),
                fp(concat_ws(" ", slice(col("__t"), p + 1, lit(k))))
                  .as("h"))))
          .otherwise(array())).as("__g"))
      .select(col("__id"), col("__g.pos").as("pos"), col("__g.h").as("h"))
    // first-occurrence survivor via ONE row_number window over the
    // fingerprint: every gram row shuffles once and sorts within its h
    // partition. (Measured alternative at 100k docs: a map-side-
    // combinable min(struct(id, pos)) aggregate + join-back avoids the
    // sort but recomputes the md5 gram stream for the join leg and pays
    // a second gram-sized exchange — 18.2 s vs 9.4 s for this window —
    // so the window form stays.)
    val firstW = Window.partitionBy(col("h"))
      .orderBy(col("__id"), col("pos"))
    val ranked = grams.withColumn("__rn", row_number().over(firstW))
    // fingerprint fan-out cap (scaladoc above): the group size rides
    // the SAME window spec with an unbounded frame — one WindowExec
    // evaluates both functions, so the cap costs no extra shuffle,
    // sort, or pass. Over-cap groups drop WHOLE before the
    // covered-span expansion (the nondeterministic cappedWhere filter
    // also fences the __rn predicate from reordering above it), so a
    // viral k-gram can neither explode the window group's dup spans
    // nor the expansion.
    val kept =
      if (maxGroup == Int.MaxValue) ranked
      else CapMetrics.cappedWhere(
        ranked.withColumn("__cnt", count(lit(1)).over(
          firstW.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing))),
        "exact_substr_fp", col("__cnt"), maxGroup, memberRows = true)
    val dupSpans = kept
      .where(col("__rn") > 1)
      .select(col("__id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("__ti"))
    val covered = dupSpans.groupBy(col("__id"))
      .agg(collect_set(col("__ti")).as("__cov"))
    // the rebuild is a codegen'd one-pass mask kernel — O(n_tokens +
    // n_covered) per doc; the filter+array_contains HOF it replaces
    // rescanned `__cov` per token, degenerating quadratically on a
    // heavily-duplicated doc (covered ≈ n_tokens)
    toks.join(covered, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", graftFn("graft_drop_indices", col("__t"),
          coalesce(col("__cov"), array().cast("array<int>"))))
          .as("clean_text"))
  }

  /** Per-group content manifest: document count plus an exact DECIMAL
    * sum of 60-bit md5 prefixes over `id:text` — partition-order
    * independent (the Verify digest discipline), so two releases'
    * manifests are equal iff their (id, text) multisets are equal per
    * group. The O(groups)-sized release equality check a versioned
    * corpus runs BEFORE paying for a full [[snapshotDiff]]: manifest
    * rows match → skip the diff; a row differs → diff only that group.
    *
    * Scale: one narrow hash projection + one map-side-combined group
    * aggregate; document bytes never shuffle.
    *
    * @return `source, n_docs, content_hash` per group
    */
  def contentManifest(df: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame =
    df.select(col(groupCol).as("source"),
        conv(substring(md5(concat_ws(":", col(idCol), col(textCol))), 1, 15),
          16, 10).cast("decimal(38,0)").as("__h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__h")).as("content_hash"))

  /** Per-document duplication density: the fraction of each document's
    * distinct n-gram shingles that also occur in at least one OTHER
    * document — the doc-level memorization-risk score (a doc whose
    * phrasing is mostly shared is boilerplate/syndication even when no
    * single pair crosses a near-dup threshold; Dolma/RedPajama report
    * exactly this distribution before choosing dedup strength).
    *
    * Exact integers + one division → hash-gateable. Scale: one
    * (shingle) doc-frequency aggregate (map-side combined) and one
    * shingle-keyed equi-join back to the per-doc shingle stream — both
    * corpus-token-proportional and linear, the splitLeakage class. A
    * document shorter than `n` tokens has no shingles and no row (it
    * cannot share phrasing).
    *
    * @return `idCol, n_shingles, n_dup, dup_frac` per document
    */
  def dupShingleFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val ex = spread(df)
      .select(col(idCol).as("__id"),
        explode(shingles(col(textCol), n)).as("__s"))
    // shingles are distinct per doc, so count(*) per shingle IS its
    // document frequency
    val freq = ex.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    ex.join(freq, Seq("__s"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_shingles")).as("dup_frac"))
  }

  /** Per-source boilerplate detection: word n-gram shingles that appear
    * in at least `minFraction` of a source's documents — the scraper
    * template / navigation-chrome signal (a phrase occurring in 60% of
    * one domain's pages is chrome, not content), feeding a
    * line/span-removal pass or a source-quality review.
    *
    * Scale: ONE shuffle of distinct (source, shingle, doc) — corpus-
    * proportional with map-side combine — then per-(source, shingle)
    * doc counts join the model-sized per-source doc totals (broadcast).
    * Output is report-sized: only shingles clearing the fraction gate.
    *
    * @return `source, shingle, n_docs, doc_frac` — `n_docs` = documents
    *         of that source containing the shingle, `doc_frac` the
    *         exact integer ratio against the source's document count
    */
  def boilerplateShingles(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 3, minFraction: Double = 0.5): DataFrame = {
    val totals = df.groupBy(col(groupCol).as("source"))
      .agg(count(lit(1)).as("__total"))
    spread(df)
      .select(col(groupCol).as("source"), col(idCol).as("__id"),
        explode(shingles(col(textCol), n)).as("shingle"))
      .groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("n_docs")) // shingles are per-doc distinct
      .join(broadcast(totals), Seq("source"))
      .withColumn("doc_frac", col("n_docs").cast("double") / col("__total"))
      .where(col("doc_frac") >= minFraction)
      .select(col("source"), col("shingle"), col("n_docs"), col("doc_frac"))
  }

  /** Per-group novelty: for each `groupCol` value, the fraction of its
    * documents with NO verified near-duplicate in any OTHER group — the
    * actionable scalar behind [[crossGroupNearDupMatrix]] (a new source
    * earns its ingestion cost in proportion to its novelty rate, and
    * mutually-redundant sources get down-weighted in the mixture).
    *
    * Same plan spine as the matrix: banded pairs, pair-sized label
    * joins, then one corpus-wide group aggregate (the only
    * corpus-proportional step, one shuffle on the group key).
    *
    * @return `source, n_docs, n_cross_linked, novelty_rate` per group
    */
  def groupNoveltyRates(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, threshold: Double, numHashes: Int = 64,
      bands: Int = 4, md5Basis: Boolean = false): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, threshold, numHashes,
      bands, md5Basis)
    val g = df.select(col(idCol), col(groupCol))
    // `cross` is pair-proportional and was referenced twice (the idA and
    // idB legs of a touched-id union) — unpinned, the whole banded
    // pipeline upstream re-ran per leg (q95's r14 before plan: 7 parquet
    // scans / 10 exchanges for a 1-input query); the r14 fix pinned it,
    // violating pinSmall's batch-proportional contract. r15: explode the
    // pair into its two endpoints instead — ONE reference, one banded
    // pipeline in the plan, nothing pinned. Same distinct id set: the
    // union of the idA and idB legs is exactly the multiset of exploded
    // endpoints, and distinct() collapses both identically.
    val cross = pairs
      .join(g.select(col(idCol).as("idA"), col(groupCol).as("__ga")), Seq("idA"))
      .join(g.select(col(idCol).as("idB"), col(groupCol).as("__gb")), Seq("idB"))
      .where(col("__ga") =!= col("__gb"))
    val touched = cross
      .select(explode(array(col("idA"), col("idB"))).as(idCol))
      .distinct()
      .withColumn("__x", lit(1L))
    g.join(touched, Seq(idCol), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__x")), lit(0L)).as("n_cross_linked"))
      .select(col(groupCol).as("source"), col("n_docs"),
        col("n_cross_linked"),
        (lit(1.0) - col("n_cross_linked").cast("double") / col("n_docs"))
          .as("novelty_rate"))
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash over the token set: bit b of the fingerprint is the
    * majority vote of bit b across xxhash64(token). Near-identical docs
    * differ in few bits (compare with [[hammingDistance]]). Custom
    * codegen'd expression — one token hash + 64 vote updates per token,
    * vs the doubly-nested interpreted aggregate it replaced.
    */
  def simhash64(tokenArr: Column): Column =
    graftFn("graft_simhash64", tokenArr)

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Scale path: SimHash near-dup candidates via bit-band buckets —
    * the 64-bit fingerprint splits into `bands` chunks; documents
    * sharing any chunk become candidates (one high-cardinality-key
    * shuffle, like MinHash-LSH banding), then exact Hamming verification.
    * Recall: pairs within `maxBits` differing bits collide on a band
    * unless every band catches a flipped bit — guaranteed complete when
    * `maxBits < bands`, probabilistic above that.
    */
  def simhashNearDupsBanded(df: DataFrame, idCol: String, textCol: String,
      maxBits: Int, bands: Int = 4, maxBucket: Int = 10000,
      md5Basis: Boolean = false): DataFrame = {
    val bits = 64 / bands
    val fp = if (md5Basis) graftFn("graft_simhash_md5", tokenSet(col(textCol)))
             else simhash64(tokenSet(col(textCol)))
    val sh = spread(df).select(col(idCol).as("__id"), fp.as("__sh"))
    val keyed = sh.select(col("__id"), col("__sh"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => call_function("shiftrightunsigned", col("__sh"), b * bits)
            .bitwiseAND(lit((1L << bits) - 1))))
          .as(Seq("band", "key")))
    val capped = CapMetrics.cappedByCount(keyed,
      "simhash_banded", Seq("band", "key"), maxBucket)
    val l = capped.select(col("band"), col("key"),
      col("__id").as("idA"), col("__sh").as("__sa"))
    val r = capped.select(col("band"), col("key"),
      col("__id").as("idB"), col("__sh").as("__sb"))
    // Hamming verification runs BEFORE the cross-band distinct (the
    // minhashNearDups ordering): bit_count is codegen'd per joined row,
    // so the dedup exchange carries only surviving pairs — a pair
    // colliding in two bands computes the same distance twice, which
    // the distinct collapses
    l.join(r, Seq("band", "key"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        hammingDistance(col("__sa"), col("__sb")).as("hamming"))
      .where(col("hamming") <= maxBits)
      .distinct()
  }

  /** SimHash near-dup pairs within `blockCol` blocks at ≤ `maxBits`
    * differing bits.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxBits: Int, md5Basis: Boolean = false): DataFrame = {
    // md5 basis: DuckDB rebuilds the identical fingerprints, so the
    // blocked (exact within-block) variant is fully oracle-checkable
    val fp = if (md5Basis) graftFn("graft_simhash_md5", tokenSet(col(textCol)))
             else simhash64(tokenSet(col(textCol)))
    val t = spread(df).select(col(blockCol).as("__blk"), col(idCol).as("__id"),
      fp.as("__sh"))
    val a = t.select(col("__blk"), col("__id").as("idA"), col("__sh").as("__sa"))
    val b = t.select(col("__blk"), col("__id").as("idB"), col("__sh").as("__sb"))
    // see blockedJaccardPairs on broadcast of the build side
    a.join(broadcast(b), Seq("__blk"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        hammingDistance(col("__sa"), col("__sb")).as("hamming"))
      .where(col("hamming") <= maxBits)
  }
}
