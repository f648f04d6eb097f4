package graft

import graft.ops.{CapMetrics, Dedup, Similarity}

/** The bucket/cell caps drop over-cap groups by design; these specs plant
  * a mass-duplication event and assert the drop is COUNTED (CapMetrics
  * accumulators), not silent, and that survivors from small buckets are
  * unaffected. Accumulator values are current once the action returns
  * (they merge on task completion).
  */
class CapMetricsSpec extends SparkSuite {

  test("minhashNearDups counts dropped over-cap buckets (aggregated shape)") {
    import spark.implicits._
    CapMetrics.reset()
    // 6 identical docs → every band key collides → one 6-id bucket per
    // band, over the cap of 3; plus one small near-dup pair that survives
    val flood = (1L to 6L).map(i => (i, "the same flood document text"))
    val pair = Seq((10L, "a rare unrelated pair of words"),
      (11L, "a rare unrelated pair of words"))
    val df = (flood ++ pair).toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5,
        maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 11L))) // flood pairs sacrificed, pair kept
    val (groups, rows) = CapMetrics.dropsFor("lsh_candidates")
    assert(groups > 0L, s"expected dropped buckets, got ${CapMetrics.drops}")
    assert(rows >= 6L) // each dropped bucket held the 6 flood ids
  }

  test("incrementalNearDups counts dropped corpus buckets (member shape)") {
    import spark.implicits._
    CapMetrics.reset()
    val corpus = (1L to 5L).map(i => (i, "corpus flood duplicate entry"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "corpus flood duplicate entry"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(batch, corpus, "doc_id", "text",
      threshold = 0.9, maxBucket = 2)
    assert(got.count() === 0L) // all corpus buckets over cap → no links
    val (groups, rows) = CapMetrics.dropsFor("incremental_neardup_corpus")
    assert(groups > 0L && rows >= 5L, s"got ${CapMetrics.drops}")
  }

  test("ivfNearDupPairs counts dropped over-cap cells once, not per leg") {
    import spark.implicits._
    CapMetrics.reset()
    val vecs = (1L to 8L).map(i => (i, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val centroids = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val got = Similarity.ivfNearDupPairs(vecs, "vec_id", "embedding",
      centroids, threshold = 0.9, maxCell = 4)
    assert(got.count() === 0L) // the single 8-vector cell is dropped whole
    // at-least-once, at-most-per-leg: the self-join's legs may each tally
    // the dropped cell, or adaptive planning may elide one leg
    val (groups, rows) = CapMetrics.dropsFor("ivf_neardup_cells")
    assert(groups >= 1L && groups <= 2L && rows === groups * 8L,
      s"got ${CapMetrics.drops}")
  }

  test("cosineNearDupPairsBucketed keeps survivors and counts drops once") {
    import spark.implicits._
    CapMetrics.reset()
    // 6 identical vectors flood every band bucket; a distinct near-dup
    // pair in another direction survives the cap
    val flood = (1L to 6L).map(i => (i, Seq(1f, 0f, 0f, 0f)))
    val pair = Seq((10L, Seq(0f, 1f, 0f, 0f)), (11L, Seq(0f, 0.99f, 0.1f, 0f)))
    val df = (flood ++ pair).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairsBucketed(df, "vec_id", "embedding",
        threshold = 0.9, planesPerBand = 4, bands = 2, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 11L)))
    val (groups, rows) = CapMetrics.dropsFor("cosine_neardup_bucketed")
    assert(groups > 0L && rows >= 6L, s"got ${CapMetrics.drops}")
  }

  test("under-cap runs count zero drops") {
    import spark.implicits._
    CapMetrics.reset()
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5,
      maxBucket = 100).collect()
    assert(CapMetrics.dropsFor("lsh_candidates") === ((0L, 0L)))
  }

  test("markdown report surfaces cap drops where a human reads them") {
    import spark.implicits._
    val stats = graft.agg.Statistics.GlobalStats(2L, 0L, 0.1, 0.1, 0.1, 0.2)
    CapMetrics.reset()
    // clean session → no section (a zero-drop run must not alarm)
    val clean = graft.agg.Statistics.markdownReport(stats,
      Seq(("image", 2L)), 1L)
    assert(!clean.contains("## Cap drops"), clean)
    // plant a mass-duplication drop, then render again
    val flood = (1L to 6L).map(i => (i, "the same flood document text"))
      .toDF("doc_id", "text")
    Dedup.minhashNearDups(flood, "doc_id", "text", threshold = 0.5,
      maxBucket = 3).collect()
    val md = graft.agg.Statistics.markdownReport(stats,
      Seq(("image", 2L)), 1L)
    assert(md.contains("## Cap drops"), md)
    assert(md.contains("lsh_candidates"), md)
  }
}
