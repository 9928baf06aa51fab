package graft.etl

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's full ETL (analyzer.rs:203-352) as a Spark job:
  * driver-side directory scan → one distributed pass per repo doing
  * validation + remote-url lookup + `git log` extraction (mapPartitions
  * over the repo work-list — the executor-boundary analog of one tokio
  * task per repo, analyzer.rs:222-230) → DataFrame normalization
  * (author-map broadcast lookup, URL rewrite, explode) → three parquet
  * tables.
  *
  * Deviations from the reference, by design (SURVEY.md §7.3):
  *  - surrogate keys are deterministic (dense_rank over (name, path)),
  *    not SQLite AUTOINCREMENT (analyzer.rs:152) — AUTOINCREMENT has no
  *    stable distributed analog;
  *  - the logs "primary key" is (repository_id, commit_hash), not a
  *    global commit_hash PK, so forks sharing commits don't silently
  *    drop whole repositories (the reference's `.ok()` swallow at
  *    analyzer.rs:351 + global PK at analyzer.rs:163);
  *  - failed repos surface in [[EtlReport.failed]] instead of
  *    disappearing.
  */
object GitEtl {

  final case class EtlReport(
      analyzed: Seq[String],
      ignored: Seq[String],
      failed: Map[String, String],
      nLogs: Long,
      nChangedFiles: Long,
      commitsPerRepo: Seq[(String, Long)] = Nil)

  /** Write the three reference tables from a [[dataframes]] map —
    * split out so callers (Main) can materialize the extraction under
    * a progress listener first, then write from cache.
    */
  def write(tables: Map[String, DataFrame], outDir: String): Unit = {
    tables("repositories").write.mode("overwrite").parquet(s"$outDir/repositories.parquet")
    tables("logs").write.mode("overwrite").parquet(s"$outDir/logs.parquet")
    tables("changed_files").write.mode("overwrite").parquet(s"$outDir/changed_files.parquet")
  }

  /** Build the output DataFrames without writing. Triggers NO Spark
    * jobs — callers that want the run report call [[report]] (which
    * does), and should unpersist the "events" entry when finished.
    * Tables land (via [[write]]) as repositories(repo_id, name, url),
    * logs(commit_hash, parent_hash, author_name, author_email,
    * commit_datetime, commit_epoch, message, insertions, deletions,
    * repository_id), changed_files(commit_hash, file_path,
    * repository_id) — DDL shapes from analyzer.rs:149-188 with an extra
    * epoch column for engine-neutral comparisons.
    */
  def dataframes(
      spark: SparkSession,
      root: Path,
      config: EtlConfig,
      maxDepth: Int,
      shardsPerRepo: Int = 1): Map[String, DataFrame] = {
    import spark.implicits._
    val (events, ignored) = extract(spark, root, config, maxDepth, shardsPerRepo, Map.empty)
    val dim = repoDim(events, None)
    val (logs, changedFiles) = normalizedTables(events, dim, config.authorMap)
    Map(
      "repositories" -> dim.select("repo_id", "name", "url"),
      "logs" -> logs,
      "changed_files" -> changedFiles,
      "failures" -> events.filter(col("kind") === "error")
        .select(col("repo_path").as("path"), col("error")),
      "ignored" -> ignored.toDF("name"),
      "events" -> events)
  }

  /** The one extraction pipeline of the full and the incremental run:
    * driver-side directory scan, then one task per work item (repo,
    * shard) — the reference's task-per-repo fanout, analyzer.rs:222-230
    * — with ALL per-repo subprocess work inside the task
    * ([[GitLogSource.extractRepo]]), so driver prep is O(1) filesystem
    * metadata per directory. `prevHeads` (repo path → head recorded by
    * the previous run) turns each repo's walk incremental.
    *
    * Persisted: the one extraction pass feeds the repositories dim,
    * logs, changed_files AND the report — without caching, every
    * downstream action would re-run `git log` over every repo. Returns
    * the events and the ignored directory names.
    */
  private[etl] def extract(
      spark: SparkSession, root: Path, config: EtlConfig, maxDepth: Int,
      shardsPerRepo: Int, prevHeads: Map[String, String]): (DataFrame, Seq[String]) = {
    import spark.implicits._
    val (candidates, ignored) =
      GitLogSource.scanDirectories(root, maxDepth, config.ignoredRepositories)
    val shards = math.max(1, shardsPerRepo)
    val work = for (p <- candidates.map(_.toString); sh <- 0 until shards)
      yield (p, prevHeads.get(p), sh)
    val events = spark
      .createDataset(work)
      .repartition(math.max(1, work.size))
      .mapPartitions(_.flatMap { case (p, since, sh) =>
        GitLogSource.extractRepo(Paths.get(p), since, sh, shards)
      })
      .toDF()
      .persist()
    (events, ignored)
  }

  /** The repositories dimension (repo_id, name, path, url, head, mode)
    * from the VALIDATED WORK-LIST (kind=repo events), not from
    * extracted commits: a repo that validates but yields zero non-merge
    * commits still gets its row, matching the reference's
    * unconditional repository insert (analyzer.rs:299-310). The
    * identity key is the unique path — two checkouts with the same
    * basename (root/team1/app, root/team2/app) are distinct
    * repositories; `name` stays the basename for reference parity.
    *
    * Without a previous state (a full run) the surrogate key is
    * deterministic: dense_rank over (name, path). With one (an
    * incremental run) ids are STABLE: a repo the state knows keeps its
    * id, and new repos rank after the largest id the state ever gave —
    * retired repos included, so no id is reused. The global window
    * runs over the work-list, which is already driver-sized.
    */
  private[etl] def repoDim(events: DataFrame, prevState: Option[DataFrame]): DataFrame = {
    val repos = events.filter(col("kind") === "repo")
      .select(col("repo_name").as("name"), col("repo_path").as("path"),
        col("repo_url").as("url"), col("head"), col("mode"))
    val byNamePath = Window.orderBy("name", "path")
    prevState match {
      case None => repos.withColumn("repo_id", dense_rank().over(byNamePath).cast("long"))
      case Some(st) =>
        val ids = st.select(col("path").as("p_path"), col("repo_id").as("p_id"))
        val maxId = st.agg(coalesce(max("repo_id"), lit(0L)).as("max_id"))
        val joined = repos.join(broadcast(ids), col("path") === col("p_path"), "left")
          .drop("p_path")
        val kept = joined.filter(col("p_id").isNotNull).withColumn("repo_id", col("p_id"))
        val fresh = joined.filter(col("p_id").isNull).crossJoin(broadcast(maxId))
          .withColumn("repo_id", col("max_id") + dense_rank().over(byNamePath).cast("long"))
          .drop("max_id")
        kept.unionByName(fresh).drop("p_id")
    }
  }

  /** The commit-normalization tail shared by the full-history path
    * above and the incremental path ([[GitEtlIncr]]): author-map
    * override + repo-id attach + per-file explode over any extraction
    * event frame and any (repo_id, path) dimension.
    */
  private[etl] def normalizedTables(
      events: DataFrame, repoDim: DataFrame,
      authorMap: Map[String, String]): (DataFrame, DataFrame) = {
    // Author normalization (J1): broadcast the email→name map and
    // override the *name* only (repository.rs:167-171). A literal
    // MapType rides inside codegen — zero shuffle, like the
    // reference's in-process HashMap.
    val authorMapCol = typedLit(authorMap)
    val logsRaw = events.filter(col("kind") === "commit")
      .select(col("commit.*"))
      .withColumn("author_name",
        coalesce(element_at(authorMapCol, col("author_email")), col("author_name")))
    val dim = repoDim.select(col("repo_id"), col("path"))
    val logs = logsRaw
      .join(broadcast(dim), logsRaw("repo_path") === dim("path"))
      .select(
        col("commit_hash"),
        col("parent_hash"),
        col("author_name"),
        col("author_email"),
        timestamp_seconds(col("commit_epoch")).as("commit_datetime"),
        col("commit_epoch"),
        col("message"),
        col("insertions"),
        col("deletions"),
        col("repo_id").as("repository_id"))
    // repository_id discriminates fork-shared commit hashes, matching
    // the (repository_id, commit_hash) logs key — without it a commit
    // reachable from two repos would double-join per-file rows.
    val changedFiles = logsRaw
      .join(broadcast(dim), logsRaw("repo_path") === dim("path"))
      .select(col("commit_hash"), explode(col("changed_files")).as("file_path"),
        col("repo_id").as("repository_id"))
    (logs, changedFiles)
  }

  /** One (kind, repo path) group of an extraction: `n` rows, and for
    * kind="commit" the summed changed-file count in `files`. */
  private[etl] final case class RepoGroup(
      kind: String, path: String, name: String, url: String, error: String,
      head: String, mode: String, n: Long, files: Long)

  /** The run summary in ONE aggregation over the cached events,
    * collected to the driver: O(repos) rows, the same order as the
    * work-list the driver already holds.
    */
  private[etl] def summarize(events: DataFrame): Seq[RepoGroup] = {
    import events.sparkSession.implicits._
    events.groupBy(col("kind"), col("repo_path").as("path"))
      .agg(first("repo_name").as("name"), first("repo_url").as("url"),
        first("error").as("error"), first("head").as("head"), first("mode").as("mode"),
        count(lit(1)).as("n"),
        coalesce(sum(when(col("kind") === "commit", size(col("commit.changed_files")))),
          lit(0L)).as("files"))
      .as[RepoGroup].collect().toSeq
  }

  /** Materialize the run report from [[dataframes]] output — the one
    * place that triggers jobs (one aggregation over the cached
    * extraction, [[summarize]]; `dataframes` itself stays lazy). The
    * counts are the tables' own: logs and changed_files hold the
    * commits of repos in the dimension, and the dimension is ranked by
    * (name, path).
    */
  def report(tables: Map[String, DataFrame]): EtlReport = {
    val ignored = tables("ignored").select(lit("ignored").as("kind"), col("name").as("repo_path"))
    val groups = summarize(tables("events").unionByName(ignored, allowMissingColumns = true))
    def of(kind: String) = groups.filter(_.kind == kind)
    val repos = of("repo").sortBy(g => (g.name, g.path))
    val commits = of("commit").map(g => g.path -> g).toMap
    val logged = repos.flatMap(r => commits.get(r.path))
    EtlReport(
      analyzed = repos.map(_.name),
      ignored = of("ignored").sortBy(_.path).flatMap(g => Seq.fill(g.n.toInt)(g.path)),
      failed = of("error").map(g => g.path -> g.error).toMap,
      nLogs = logged.map(_.n).sum,
      nChangedFiles = logged.map(_.files).sum,
      // the reference's per-repo progress lines, rendered post-hoc;
      // zero-commit repos keep n = 0
      commitsPerRepo = repos.map(r => r.name -> commits.get(r.path).fold(0L)(_.n)))
  }
}
