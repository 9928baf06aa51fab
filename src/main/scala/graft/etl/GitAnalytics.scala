package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** The downstream analytics a git-log-to-sqlite user runs over the
  * produced schema (README.md:51-78 documents the tables for exactly
  * this purpose; the reference itself leaves querying to SQLite).
  * These run over our parquet output — the queries a reference user
  * would port 1:1.
  *
  * All inputs are the ETL output tables (read from `tablesDir` as
  * written by [[GitEtl.write]]).
  */
object GitAnalytics {

  // the schema comes from one footer: constructing a query runs no job
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    s.read.schema(Sinks.parquetSchema(s, path)).parquet(path)
  }

  /** Top-k most-changed files per repository — the canonical query the
    * schema exists for. Windowed rank with per-partition pruning
    * (WindowGroupLimit), joined back to repository names.
    */
  def topFilesPerRepo(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val counts = t(s, dir, "changed_files")
      .groupBy("repository_id", "file_path")
      .agg(count(lit(1)).as("n_changes"))
    val w = Window.partitionBy(col("repository_id"))
      .orderBy(col("n_changes").desc, col("file_path"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .join(broadcast(t(s, dir, "repositories")), col("repository_id") === col("repo_id"))
      .select(col("name").as("repo"), col("file_path"), col("n_changes"), col("rank"))
      .orderBy("repo", "rank")
  }

  /** Commit counts and churn per author per month. */
  def authorActivity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "logs")
      .groupBy(
        col("author_name"),
        date_trunc("month", col("commit_datetime")).as("month"))
      .agg(
        count(lit(1)).as("n_commits"),
        sum("insertions").as("lines_added"),
        sum("deletions").as("lines_removed"))
      .orderBy("author_name", "month")

  /** Per-repo cumulative churn over time (running insertions+deletions
    * ordered by commit time — the reference's time-series use-case).
    */
  def cumulativeChurn(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("repository_id"))
      .orderBy(col("commit_epoch"), col("commit_hash"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "logs")
      .select(
        col("repository_id"),
        col("commit_hash"),
        col("commit_epoch"),
        sum(col("insertions") + col("deletions")).over(w).as("cumulative_churn"))
      .orderBy("repository_id", "commit_epoch", "commit_hash")
  }

  /** Median seconds between consecutive commits per repository. */
  def commitCadence(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("repository_id"))
      .orderBy(col("commit_epoch"), col("commit_hash"))
    t(s, dir, "logs")
      .select(
        col("repository_id"),
        (col("commit_epoch") - lag(col("commit_epoch"), 1).over(w)).as("gap_s"))
      .filter(col("gap_s").isNotNull)
      .groupBy("repository_id")
      .agg(
        expr("percentile(gap_s, 0.5)").as("median_gap_s"),
        count(lit(1)).as("n_gaps"))
      .orderBy("repository_id")
  }

  /** File co-change coupling: pairs of files repeatedly modified in
    * the same commits, per repository — the classic hidden-dependency
    * detector over this schema. Same shape as the MinHash-LSH band
    * join: self-join on the (repository, commit) key, pair-count
    * aggregation. At scale the guard is the commit fan-out: a
    * touches-everything commit (mass reformat) contributes
    * quadratically, so commits with more than `maxFilesPerCommit`
    * files are excluded — standard practice for coupling metrics, and
    * the skew cap that keeps the join's per-key work bounded.
    */
  def coChangedFiles(
      s: SparkSession, dir: String,
      minPairCount: Long = 2, maxFilesPerCommit: Int = 50): DataFrame = {
    val cf = t(s, dir, "changed_files")
    val small = cf
      .groupBy("repository_id", "commit_hash")
      .agg(count(lit(1)).as("n_files"))
      .filter(col("n_files") <= maxFilesPerCommit)
      .select("repository_id", "commit_hash")
    val files = cf.join(small, Seq("repository_id", "commit_hash"))
    val pairs = files.as("a")
      .join(files.as("b"),
        col("a.repository_id") === col("b.repository_id") &&
          col("a.commit_hash") === col("b.commit_hash") &&
          col("a.file_path") < col("b.file_path"))
      .select(
        col("a.repository_id").as("repository_id"),
        col("a.file_path").as("file_a"),
        col("b.file_path").as("file_b"))
    pairs
      .groupBy("repository_id", "file_a", "file_b")
      .agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minPairCount)
      .orderBy(desc("n_together"), col("repository_id"), col("file_a"), col("file_b"))
  }

  /** Commits whose summary matches a pattern (the "find that change"
    * query), with their file lists aggregated back into arrays.
    */
  def searchCommits(s: SparkSession, dir: String, pattern: String): DataFrame =
    t(s, dir, "logs")
      .filter(col("message").rlike(pattern))
      .join(t(s, dir, "changed_files"), Seq("commit_hash", "repository_id"), "left")
      .groupBy("commit_hash", "repository_id", "message", "author_name", "commit_epoch")
      .agg(sort_array(collect_list(col("file_path"))).as("files"))
      .orderBy("commit_epoch", "commit_hash")
}
