package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: map every document onto its token-offset interval in
  * the virtual concatenation of the corpus in `idCol` order, and derive
  * which fixed-size training sequences (of `budget` tokens) it lands in —
  * the GPT-style "concatenate and split every `budget` tokens" packing,
  * where documents may span sequence boundaries.
  *
  * The core is a GLOBAL prefix sum over a 100 TB corpus, which must not
  * become a single-partition window (`Window.orderBy` with no partition
  * key collapses all rows onto one task). Instead:
  *
  *  1. range-repartition by `idCol` (partition i holds ids strictly below
  *     partition i+1 — sampled boundaries only place rows, they cannot
  *     affect the result),
  *  2. cumulative sum *within* each partition (window keyed by
  *     `spark_partition_id()` — balanced, parallel),
  *  3. per-partition totals (one row per partition) get their own tiny
  *     cumulative window and broadcast-join back as starting offsets.
  *
  * Every data-sized exchange carries `(id, n_tokens)` longs; the only
  * driver-sized object is the partition-count offset table.
  */
object Packing {

  /** Token-offset intervals and sequence assignment for each document.
    *
    * @param df       input with unique `idCol` (ordering key) and `textCol`
    * @param budget   tokens per packed training sequence
    * @return `idCol, n_tokens, start_offset, seq_first, seq_last` where
    *         `start_offset` is the document's 0-based position in the
    *         virtual token stream and `seq_first..seq_last` the 0-based
    *         ids of the fixed-`budget` sequences it occupies
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame =
    packedWithPin(df, idCol, textCol, budget)._1

  /** Leak-free variant for long-lived sessions: runs `use` over the
    * packed frame (write it, collect it — any materializing action),
    * then unpersists the internal prefix-sum pin. [[packSequences]]
    * leaves that pin in the session CacheManager, which holds it
    * strongly (the ContextCleaner never reclaims a `Dataset.persist`)
    * until the cache is cleared. Do NOT let the frame escape `use` —
    * its plan reads the unpersisted pin.
    */
  def withPackedSequences[T](df: DataFrame, idCol: String, textCol: String,
      budget: Long)(use: DataFrame => T): T = {
    val (result, pin) = packedWithPin(df, idCol, textCol, budget)
    try use(result) finally pin.unpersist(blocking = false)
  }

  /** Exclusive global prefix sum of `valueCol` in `orderCols` order,
    * as the scale-safe three-stage plan described above. Returns the
    * input columns plus `__prefix`, and the persisted pin.
    *
    * The pin is REQUIRED for correctness, not just speed: `__pid` feeds
    * two plan branches (local sums + the offset table), and
    * RangePartitioner boundaries come from sampling — an unpinned
    * recompute could place rows differently and mismatch the branches.
    * Eager unpersist here would be wrong (the returned plan still reads
    * the pin). The session CacheManager holds the pin strongly — the
    * ContextCleaner never reclaims it — so it is released only by the
    * caller unpersisting it after materializing (the `with…` variants
    * do) or by a cache clear.
    */
  private def prefixSummed(df: DataFrame, orderCols: Seq[Column],
      valueCol: String): (DataFrame, DataFrame) = {
    val pinned = df
      .repartitionByRange(orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()

    // Within-partition prefix sum (exclusive): balanced parallel windows.
    val local = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val localSum = pinned.withColumn("__local_start",
      coalesce(sum(col(valueCol)).over(local.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))

    // Partition totals → exclusive cumulative offsets. One row per
    // partition: the single-partition window here is partition-count
    // sized, not data-sized.
    val offsets = pinned
      .groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__total"))
      .withColumn("__offset",
        coalesce(sum(col("__total")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__offset"))

    val summed = localSum
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn("__prefix", col("__local_start") + col("__offset"))
      .drop("__pid", "__local_start")
    (summed, pinned)
  }

  private def packedWithPin(df: DataFrame, idCol: String, textCol: String,
      budget: Long): (DataFrame, DataFrame) = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counted = df.select(col(idCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val (summed, pin) = prefixSummed(counted, Seq(col(idCol)), "n_tokens")
    val result = summed
      .withColumnRenamed("__prefix", "start_offset")
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        expr(s"start_offset DIV $budget").as("seq_first"),
        expr(s"(start_offset + n_tokens - 1) DIV $budget").as("seq_last"))
    (result, pin)
  }

  /** Carve the packed corpus into dataloader rows: one row per
    * (sequence, document) overlap — which token span of which document
    * fills fixed-`budget` sequence `seq_id`. This is the table a
    * training dataloader consumes after [[packSequences]] assigns
    * intervals: documents spanning boundaries appear once per sequence
    * they touch, and each sequence's rows tile its `budget` tokens
    * exactly (except the corpus tail). Zero-token documents occupy no
    * span and are dropped.
    *
    * Scale: the per-document explode factor is its own sequence span
    * (`n_tokens/budget + 2`), so the output is corpus-token-
    * proportional — the same order as the training data itself — and
    * the explode is narrow: no shuffle beyond [[packSequences]]'s
    * prefix sum.
    *
    * @return `seq_id, idCol, doc_from, seg_len` where `doc_from` is the
    *         0-based token offset inside the document and `seg_len` the
    *         tokens the document contributes to `seq_id`
    */
  def carveExamples(df: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame = {
    val segStart = greatest(col("start_offset"), col("seq_id") * budget)
    packSequences(df, idCol, textCol, budget)
      .where(col("n_tokens") > 0)
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        explode(expr("sequence(seq_first, seq_last)")).as("seq_id"))
      .select(col("seq_id"), col(idCol),
        (segStart - col("start_offset")).as("doc_from"),
        (least(col("start_offset") + col("n_tokens"),
          (col("seq_id") + 1) * budget) - segStart).as("seg_len"))
  }

  /** Greedy token-budget selection: documents taken in (`scoreCol`
    * desc, `idCol` asc) order while the cumulative token count BEFORE
    * each document stays under `budgetTokens` — "the best N tokens of
    * the corpus", the curation step between quality scoring and
    * training. The last admitted document may overshoot the budget;
    * drop it downstream if the budget is hard.
    *
    * The cut uses the same distributed exclusive prefix sum as
    * [[packSequences]] (range partition on the selection order —
    * never a single-partition window), so it holds at corpus scale.
    *
    * @return `idCol, scoreCol, n_tokens, tokens_before` for selected rows
    */
  def takeTokenBudget(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, budgetTokens: Long): DataFrame =
    budgetWithPin(df, idCol, textCol, scoreCol, budgetTokens)._1

  /** Leak-free variant of [[takeTokenBudget]] for long-lived sessions —
    * same contract as [[withPackedSequences]]: materialize inside `use`,
    * don't let the frame escape it.
    */
  def withTokenBudget[T](df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, budgetTokens: Long)(use: DataFrame => T): T = {
    val (result, pin) = budgetWithPin(df, idCol, textCol, scoreCol,
      budgetTokens)
    try use(result) finally pin.unpersist(blocking = false)
  }

  private def budgetWithPin(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, budgetTokens: Long): (DataFrame, DataFrame) = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    val counted = df.select(col(idCol), col(scoreCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val (summed, pin) = prefixSummed(counted,
      Seq(col(scoreCol).desc, col(idCol).asc), "n_tokens")
    val result = summed
      .where(col("__prefix") < budgetTokens)
      .withColumnRenamed("__prefix", "tokens_before")
      .select(col(idCol), col(scoreCol), col("n_tokens"), col("tokens_before"))
    (result, pin)
  }

  /** Padding-waste report across a sequence-length grid: for each
    * candidate `seq_len`, the cost of document-intact batching (every
    * document padded up to a whole number of sequences — the SFT/no-split
    * dataloader) vs concat-and-chunk packing (q61's GPT shape, waste only
    * in the final sequence). Columns: corpus token/doc counts, padded
    * sequence + token totals, `pad_waste_frac` (fraction of padded slots
    * holding no real token), and the packed-sequence count for contrast —
    * the table that picks a context length before a training run.
    *
    * One narrow scan computes per-document token counts; the grid fans
    * out as a `seq_len`-sized explode of the single aggregated row's
    * inputs (per-length ceil-division sums), so the corpus is read once
    * for the whole grid. All columns are integers or single IEEE
    * divisions → the whole report hash-gates cross-engine.
    */
  def paddingWasteReport(df: DataFrame, textCol: String,
      seqLens: Seq[Int]): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ > 0),
      s"seqLens must be positive, got $seqLens")
    val counted = df.select(
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("__n"))
    // Σ ceil(n/L) per candidate L in ONE aggregation pass: each length's
    // sum is its own aggregate over the same narrow scan
    val aggs = seqLens.map { l =>
      sum(ceil(col("__n") / lit(l.toDouble)).cast("long")).as(s"__seqs_$l")
    }
    val base = counted.agg(count(lit(1)).as("n_docs"),
      (sum(col("__n")).as("n_tokens") +: aggs): _*)
    val perLen = seqLens.map { l =>
      struct(lit(l).cast("long").as("seq_len"),
        col(s"__seqs_$l").as("padded_seqs"))
    }
    base
      .select(col("n_docs"), col("n_tokens"),
        explode(array(perLen: _*)).as("__g"))
      .select(col("__g.seq_len").as("seq_len"), col("n_docs"),
        col("n_tokens"),
        col("__g.padded_seqs").as("padded_seqs"))
      .withColumn("padded_tokens", col("padded_seqs") * col("seq_len"))
      .withColumn("pad_waste_frac",
        (col("padded_tokens") - col("n_tokens")).cast("double") /
          col("padded_tokens"))
      .withColumn("packed_seqs",
        ceil(col("n_tokens") / col("seq_len").cast("double")).cast("long"))
  }
}
