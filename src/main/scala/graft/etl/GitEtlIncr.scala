package graft.etl

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Sinks

/** Incremental (since-snapshot) git ETL — the one ETL capability the
  * reference lacks outright: it re-runs full history every time, and
  * its `INSERT OR IGNORE` + global commit-hash PK makes re-runs
  * actively hazardous (analyzer.rs:301,163 silently skips or
  * duplicates). A real 100k-repo deployment re-extracts daily; the
  * cost that matters is O(new commits), not O(total history).
  *
  * Mechanics: each run records every repo's HEAD in a `state`
  * snapshot table; the next run reads that frontier and extracts only
  * `old-head..HEAD` per repo ([[GitLogSource.extractRepo]] with
  * `since` — a repo whose head is unchanged runs its validating
  * `rev-parse` and remote-url lookup but NO `git log`). The extraction
  * pipeline, repo dimension and normalization are [[GitEtl]]'s own.
  * Batches land through the snapshot-versioned manifest-log tables
  * ([[Sinks.writeSnapshot]] append mode), so:
  *
  *  - readers always see a complete committed version, never a
  *    half-written batch (the manifest link is the commit point);
  *  - every historical version stays readable (time travel) until a
  *    retention job prunes manifests;
  *  - a force-pushed / gc'd repo (mode "rewind") falls back to full
  *    extraction, and the append path's anti-join against the
  *    already-committed (repository_id, commit_hash) set keeps the
  *    table exactly-once — re-covered, never doubled. Each table is
  *    anti-joined against ITS OWN committed keys, so a rerun after a
  *    crash between two table commits (logs committed, the rest not)
  *    finishes the batch — IncrementalEtlSpec "crash after the logs
  *    commit" checks the result equals a full rebuild.
  *
  * Jobs: a run re-reads none of its own output. It collects `state`
  * once (1 job), extracts in one job that also collects the repo and
  * error events (modes and failures come from those), builds the repo
  * dimension on the driver, and then runs only its writes: per append
  * table a broadcast of the committed keys plus the write, then the
  * `repositories` and `state` writes — 8 jobs in all (IncrementalEtlSpec
  * "at most 12 jobs"). Batch sizes are the row counts in the footers
  * of the files the version wrote ([[Sinks.snapshotRowsAdded]]), and
  * every snapshot read takes its schema from one footer.
  *
  * Scale shape: extraction cost is git-side O(new commits) per repo;
  * the Spark-side anti-join is O(batch + committed-index scan) — the
  * q_dedup_incr_idx contract (scan an index fraction of corpus bytes
  * per increment, never re-derive it). The anti-join still reads
  * every committed key, so a run stays O(history) on the Spark side;
  * restricting it to repos that rewound waits for a differential spec
  * of the refresh against git. Repo ids are STABLE across
  * runs (previous ids preserved via the state table; new repos take
  * ids after the largest id ever given) — a full rebuild renumbers by
  * (name, path) rank, an incremental deployment must not. The state
  * keeps a repo that is gone or fails validation, with its id and last
  * head, so its id is never reused and its history never re-appended.
  *
  * Table layout under `dir` (all snapshot-versioned,
  * [[Sinks.readSnapshot]] to read):
  * {{{
  *   dir/logs            append per run (grows by the batch)
  *   dir/changed_files   append per run
  *   dir/repositories    overwritten per run (current dimension)
  *   dir/state           overwritten per run (repo_id, name, path,
  *                       url, head — the next run's frontier; every
  *                       repo ever given an id)
  * }}}
  */
object GitEtlIncr {

  final case class IncrReport(
      logsVersion: Long,
      modes: Map[String, String], // repo path -> full|since|noop|rewind
      batchLogs: Long,
      batchFiles: Long,
      failed: Map[String, String])

  def run(
      spark: SparkSession,
      root: Path,
      dir: String,
      config: EtlConfig = EtlConfig(),
      maxDepth: Int = 1): IncrReport = {
    import spark.implicits._
    def committed(t: String) = Sinks.snapshotVersions(s"$dir/$t").nonEmpty

    // the previous state is O(repos) — the same order as the
    // driver-side work-list itself — so it is collected once: the
    // frontier, the ids to keep, and the retired repos to carry
    val prev =
      if (committed("state")) Sinks.readSnapshot(spark, s"$dir/state").as[GitEtl.RepoRow].collect().toSeq
      else Nil
    val prevHeads = prev.flatMap(r => Option(r.head).map(r.path -> _)).toMap

    val ex = GitEtl.extract(spark, root, config, maxDepth, prevHeads)
    val dim = GitEtl.repoDim(ex.repos, prev)
    val (logsAll, filesAll) = GitEtl.normalizedTables(ex.events, dim, config.authorMap)

    // exactly-once append: each table drops the (repository_id,
    // commit_hash) keys IT already committed — the rewind/replay guard,
    // and what lets a rerun finish a batch a crash left half-committed.
    // Returns the version and the rows it added, from its footers.
    def append(df: DataFrame, t: String): (Long, Long) = {
      val batch =
        if (!committed(t)) df
        else df.join(Sinks.readSnapshot(spark, s"$dir/$t").select("repository_id", "commit_hash"),
          Seq("repository_id", "commit_hash"), "left_anti")
      val v = Sinks.writeSnapshot(batch, s"$dir/$t", overwrite = false)
      v -> Sinks.snapshotRowsAdded(spark, s"$dir/$t", v)
    }
    val (logsV, batchLogs) = append(logsAll, "logs")
    val (_, batchFiles) = append(filesAll, "changed_files")
    Sinks.writeSnapshot(dim.toDF().select("repo_id", "name", "url"), s"$dir/repositories", overwrite = true)
    // state keeps every repo ever given an id: a repo that is gone or
    // failed validation this run keeps its id and last head
    val current = dim.map(_.path).toSet
    Sinks.writeSnapshot((dim ++ prev.filterNot(r => current(r.path))).toDF(),
      s"$dir/state", overwrite = true)
    ex.events.unpersist()
    IncrReport(logsV,
      modes = ex.repos.map(e => e.repo_path -> e.mode).toMap,
      batchLogs = batchLogs,
      batchFiles = batchFiles,
      failed = ex.errors.map(e => e.repo_path -> e.error).toMap)
  }
}
