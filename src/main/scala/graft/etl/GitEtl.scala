package graft.etl

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's full ETL (analyzer.rs:203-352) as a Spark job:
  * driver-side directory scan → one distributed pass per repo doing
  * validation + remote-url lookup + `git log` extraction (mapPartitions
  * over the repo work-list — the executor-boundary analog of one tokio
  * task per repo, analyzer.rs:222-230) → DataFrame normalization
  * (author-map broadcast lookup, URL rewrite, explode) → three parquet
  * tables.
  *
  * Deviations from the reference, by design (SURVEY.md §7.3):
  *  - surrogate keys are deterministic (rank over (name, path)),
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

  /** Build the output DataFrames, running exactly ONE Spark job: the
    * extraction ([[extract]]), which fills the events cache and brings
    * the O(repos) repo and error events to the driver. Everything else
    * stays lazy — callers that want the run report call [[report]],
    * and should unpersist the "events" entry when finished. Tables
    * land (via [[write]]) as repositories(repo_id, name, url),
    * logs(commit_hash, parent_hash, author_name, author_email,
    * commit_datetime, commit_epoch, message, insertions, deletions,
    * repository_id), changed_files(commit_hash, file_path,
    * repository_id) — DDL shapes from analyzer.rs:149-188 with an extra
    * epoch column for engine-neutral comparisons. "repositories",
    * "repo_events" (the collected kind="repo" events, in repo_id
    * order), "failures" and "ignored" are local relations built on the
    * driver.
    */
  def dataframes(
      spark: SparkSession,
      root: Path,
      config: EtlConfig,
      maxDepth: Int): Map[String, DataFrame] = {
    import spark.implicits._
    val ex = extract(spark, root, config, maxDepth, Map.empty)
    val dim = repoDim(ex.repos, Nil)
    val (logs, changedFiles) = normalizedTables(ex.events, dim, config.authorMap)
    val byPath = ex.repos.map(e => e.repo_path -> e).toMap
    Map(
      "repositories" -> dim.toDF().select("repo_id", "name", "url"),
      "repo_events" -> dim.sortBy(_.repo_id).map(r => byPath(r.path)).toDF(),
      "logs" -> logs,
      "changed_files" -> changedFiles,
      "failures" -> ex.errors.map(e => (e.repo_path, e.error)).toDF("path", "error"),
      "ignored" -> ex.ignored.toDF("name"),
      "events" -> ex.events)
  }

  /** One extraction: the persisted events, the ignored directory
    * names, and the run's kind="repo" and kind="error" events,
    * collected to the driver.
    */
  private[etl] final case class Extraction(
      events: DataFrame, ignored: Seq[String], repos: Seq[ExtractEvent], errors: Seq[ExtractEvent])

  /** The one extraction pipeline of the full and the incremental run:
    * driver-side directory scan, then ONE job with one task and one
    * `git log` per repo — the reference's task-per-repo fanout,
    * analyzer.rs:222-230 — and no shuffle: the work-list is
    * parallelized one repo per partition. ALL per-repo subprocess work
    * runs inside the task ([[GitLogSource.extractRepo]]), so driver
    * prep is O(1) filesystem metadata per directory. `prevHeads` (repo
    * path → head recorded by the previous run) turns each repo's walk
    * incremental.
    *
    * Persisted: the one extraction pass feeds logs, changed_files AND
    * the report — without caching, every downstream action would re-run
    * `git log` over every repo. The job is a collect of the non-commit
    * events: it fills the whole cache, and returns O(repos) rows, the
    * same order as the work-list the driver already holds.
    */
  private[etl] def extract(
      spark: SparkSession, root: Path, config: EtlConfig, maxDepth: Int,
      prevHeads: Map[String, String]): Extraction = {
    import spark.implicits._
    val (candidates, ignored) =
      GitLogSource.scanDirectories(root, maxDepth, config.ignoredRepositories)
    val work = candidates.map(p => (p.toString, prevHeads.get(p.toString)))
    val events = spark.sparkContext
      .parallelize(work, math.max(1, work.size))
      .flatMap { case (p, since) => GitLogSource.extractRepo(Paths.get(p), since) }
      .toDF()
      .persist()
    val heads = events.filter(col("kind") =!= "commit").as[ExtractEvent].collect().toSeq
    Extraction(events, ignored, heads.filter(_.kind == "repo"), heads.filter(_.kind == "error"))
  }

  /** One row of the repositories dimension, and of the incremental
    * run's `state` table (the next run's frontier). */
  final case class RepoRow(repo_id: Long, name: String, path: String, url: String, head: String)

  /** The repositories dimension, computed on the driver from the
    * VALIDATED WORK-LIST (the kind=repo events [[extract]] collected),
    * not from extracted commits: a repo that validates but yields zero
    * non-merge commits still gets its row, matching the reference's
    * unconditional repository insert (analyzer.rs:299-310). The
    * identity key is the unique path — two checkouts with the same
    * basename (root/team1/app, root/team2/app) are distinct
    * repositories; `name` stays the basename for reference parity.
    *
    * Without a previous state (a full run) the surrogate key is
    * deterministic: the rank over (name, path), in Spark's string
    * order (UTF-8 bytes). With one (an incremental run) ids are
    * STABLE: a repo the state knows keeps its id, and new repos rank
    * after the largest id the state ever gave — retired repos
    * included, so no id is reused. The rows are written as a local
    * relation and attached to commits by a broadcast lookup
    * ([[normalizedTables]]): no window, no exchange, no job.
    */
  private[etl] def repoDim(repos: Seq[ExtractEvent], prev: Seq[RepoRow]): Seq[RepoRow] = {
    val known = prev.map(r => r.path -> r.repo_id).toMap
    val maxId = prev.map(_.repo_id).maxOption.getOrElse(0L)
    def row(e: ExtractEvent, id: Long) = RepoRow(id, e.repo_name, e.repo_path, e.repo_url, e.head)
    val (kept, fresh) = repos.partition(e => known.contains(e.repo_path))
    kept.map(e => row(e, known(e.repo_path))) ++
      fresh.sortBy(e => (UTF8String.fromString(e.repo_name), UTF8String.fromString(e.repo_path)))
        .zipWithIndex.map { case (e, i) => row(e, maxId + i + 1) }
  }

  /** The commit-normalization tail shared by the full-history path
    * above and the incremental path ([[GitEtlIncr]]): author-map
    * override + repo-id attach + per-file explode over any extraction
    * event frame and any dimension from [[repoDim]].
    */
  private[etl] def normalizedTables(
      events: DataFrame, dim: Seq[RepoRow],
      authorMap: Map[String, String]): (DataFrame, DataFrame) = {
    // Author normalization (J1): override the *name* only
    // (repository.rs:167-171). A literal MapType rides inside codegen —
    // zero shuffle, like the reference's in-process HashMap.
    val authorMapCol = typedLit(authorMap)
    // The repo id attaches through a broadcast variable: it ships once
    // per executor (a literal map would ride in every task at 100k
    // repos), and unlike a broadcast join of the dimension it runs no
    // collect job in each plan that reads logs or changed_files.
    val ids = events.sparkSession.sparkContext.broadcast(dim.map(r => r.path -> r.repo_id).toMap)
    // Two lookups keep the inner-join semantics AND a non-null
    // repository_id (the NOT NULL column of the reference's DDL).
    val known = udf((path: String) => ids.value.contains(path))
    val repoId = udf((path: String) => ids.value(path))
    val logsRaw = events.filter(col("kind") === "commit")
      .select(col("commit.*"))
      .filter(known(col("repo_path")))
      .withColumn("author_name",
        coalesce(element_at(authorMapCol, col("author_email")), col("author_name")))
      .withColumn("repository_id", repoId(col("repo_path")))
    val logs = logsRaw.select(
      col("commit_hash"),
      col("parent_hash"),
      col("author_name"),
      col("author_email"),
      timestamp_seconds(col("commit_epoch")).as("commit_datetime"),
      col("commit_epoch"),
      col("message"),
      col("insertions"),
      col("deletions"),
      col("repository_id"))
    // repository_id discriminates fork-shared commit hashes, matching
    // the (repository_id, commit_hash) logs key — without it a commit
    // reachable from two repos would double-join per-file rows.
    val changedFiles = logsRaw.select(col("commit_hash"),
      explode(col("changed_files")).as("file_path"), col("repository_id"))
    (logs, changedFiles)
  }

  /** The run report of a [[dataframes]] map, from its local relations
    * alone: no Spark job. Each repo's task counted its own commits and
    * changed files into its kind="repo" event, and those are the
    * tables' own counts — logs and changed_files hold exactly the
    * commits of the repos in the dimension. Repos come in repo_id
    * order, the one order the dimension defines.
    */
  def report(tables: Map[String, DataFrame]): EtlReport = {
    val repoEvents = tables("repo_events")
    import repoEvents.sparkSession.implicits._
    val repos = repoEvents.as[ExtractEvent].collect().toSeq
    EtlReport(
      analyzed = repos.map(_.repo_name),
      ignored = tables("ignored").as[String].collect().toSeq,
      failed = tables("failures").as[(String, String)].collect().toMap,
      nLogs = repos.map(_.commits).sum,
      nChangedFiles = repos.map(_.files).sum,
      // the reference's per-repo progress lines, rendered post-hoc;
      // zero-commit repos keep 0
      commitsPerRepo = repos.map(r => r.repo_name -> r.commits))
  }
}
