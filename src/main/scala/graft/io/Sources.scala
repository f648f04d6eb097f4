package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source operators S1–S4, S7 (SURVEY.md §2.1).
  *
  * All readers are thin declarative wrappers so Catalyst keeps predicate
  * pushdown / column pruning / partition pruning on the scan.
  */
object Sources {

  /** S1+S2: URL-list source — JSON array of objects, project `url`, drop
    * null/missing (reference test_parquet_processor.py:31-38,426-429).
    * The schema is pinned to `url STRING` (as in the streaming twin,
    * `streaming.StreamingProcessor.start`), so no inference job runs per
    * batch, and a file where NO object has a `url` field reads as all
    * nulls — an empty frame, the reference's `u.get('url')` filter.
    */
  def urlList(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("url STRING").option("multiLine", true).json(path)
      .where(col("url").isNotNull)

  /** S3: single-file/directory parquet scan. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S4: recursive shard discovery under nested artifact directories
    * (reference evaluate_test_run.py:52-64, aggregator.yml:120-127).
    */
  def parquetTree(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("recursiveFileLookup", true)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)

  /** S4+U1: recursive read with schema-merge union across heterogeneous
    * shards (reference aggregator.yml:151 `pd.concat` alignment).
    */
  def parquetTreeMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("recursiveFileLookup", true)
      .option("pathGlobFilter", "*.parquet")
      .option("mergeSchema", true)
      .parquet(dir)

  /** [[parquetTree]] that SKIPS corrupt shards instead of failing the
    * job — the operational mode for a 100 TB scan where one truncated
    * upload should cost one shard, not the run. Skipped files are
    * logged by Spark (`ignoreCorruptFiles`), not silent-dropped without
    * trace; [[readAndReconcile]] is the one-call form that diffs the
    * FS census against the shards actually read and hands back the
    * skipped list with byte sizes. Default reads stay strict:
    * corruption in a pipeline that DIDN'T opt in should fail loudly.
    *
    * Schema inference reads ONE footer, so when the corrupt shard is
    * the first file in listing order inference itself has nothing to
    * read and fails — pass `schema` (the table contract) to make the
    * scan corruption-proof end to end.
    */
  def parquetTreeLenient(spark: SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
      .option("recursiveFileLookup", true)
      .option("pathGlobFilter", "*.parquet")
      .option("ignoreCorruptFiles", true)
    schema.fold(r)(r.schema).parquet(dir)
  }

  /** [[readAndReconcile]]'s census-diff report: `expectedFiles` parquet
    * shards listed under the root, `readFiles` of them contributing at
    * least one row to the lenient scan, and the `unread` remainder as
    * (scheme-normalized path, bytes). A shard lands in `unread` either
    * because `ignoreCorruptFiles` skipped it (the corruption being
    * reconciled) or because it is a VALID zero-row file — the sizes are
    * included so a reader can tell a 0-byte/footer-only shard from a
    * multi-MB one that silently yielded nothing.
    */
  case class LenientReadReport(expectedFiles: Long, readFiles: Long,
      unread: Seq[(String, Long)]) {
    def clean: Boolean = unread.isEmpty
  }

  /** [[parquetTreeLenient]] with its reconciliation built in — the
    * one-call form of the manual recipe that helper's scaladoc used to
    * prescribe (pair the lenient read with an FS census and diff the
    * shard lists yourself). Runs the O(files) metadata census plus ONE
    * per-file count job over the lenient scan (`input_file_name`
    * grouping — file-count-sized result, like the other census
    * helpers), then diffs census against files actually read. The
    * returned frame is the plain lenient scan; consume it as usual.
    *
    * Strict reads are untouched: corruption in a pipeline that didn't
    * opt into this helper still fails loudly via [[parquetTree]].
    */
  def readAndReconcile(spark: SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : (DataFrame, LenientReadReport) = {
    val census = graft.agg.Statistics.listParquetFiles(spark, dir)
    val df = parquetTreeLenient(spark, dir, schema)
    val read = graft.agg.Statistics.perFileStatsWithSize(spark, df, census)
      .select("file").collect().map(_.getString(0)).toSet
    val unread = census.filterNot { case (path, _) => read.contains(path) }
    (df, LenientReadReport(census.size.toLong, read.size.toLong, unread))
  }

  /** U1 on already-loaded frames: union-by-name with null-fill. */
  def unionMerged(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** S7: deterministic pagination — `urls[start:start+count]` over an
    * explicit total order (reference test_parquet_processor.py:277-279).
    * The ordering column is mandatory: parquet row order is not a contract.
    */
  def slice(df: DataFrame, orderCol: String, start: Int, count: Int): DataFrame =
    df.orderBy(col(orderCol)).offset(start).limit(count)
}
