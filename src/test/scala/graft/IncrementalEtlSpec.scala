package graft

import java.nio.file.{Files, Path}
import scala.sys.process._
import graft.etl.{EtlConfig, GitEtl, GitEtlIncr}
import graft.sources.Sinks
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (since-snapshot) ETL golden test — r14 verdict item 2:
  * run 2 over a repo with 2 new commits must extract ONLY those
  * commits, and the incremental append must equal a full rebuild
  * (table equality) on a fast-forward history.
  */
class IncrementalEtlSpec extends AnyFunSuite {
  import TestSpark.spark

  private def git(dir: Path, args: String*): String =
    Process("git" +: args, dir.toFile).!!

  private def commit(dir: Path, msg: String, date: String,
      amend: Boolean = false): Unit = {
    val extra = if (amend) Seq("--amend") else Nil
    Process(Seq("git", "commit", "-q", "--no-verify", "-m", msg) ++ extra ++
        Seq("--author=Dev One <dev@example.com>"),
      dir.toFile,
      "GIT_AUTHOR_DATE" -> date, "GIT_COMMITTER_DATE" -> date,
      "GIT_COMMITTER_NAME" -> "CI", "GIT_COMMITTER_EMAIL" -> "ci@example.com").!!
  }

  private def initRepo(parent: Path, name: String): Path = {
    val repo = Files.createDirectories(parent.resolve(name))
    git(repo, "init", "-q", "-b", "main")
    git(repo, "config", "user.email", "dev@example.com")
    git(repo, "config", "user.name", "Dev One")
    repo
  }

  private def addCommit(repo: Path, file: String, content: String,
      msg: String, date: String): Unit = {
    Files.writeString(repo.resolve(file), content)
    git(repo, "add", ".")
    commit(repo, msg, date)
  }

  private def logsKey(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getAs[Long]("repository_id"), r.getAs[String]("commit_hash"),
        r.getAs[Long]("insertions"), r.getAs[Long]("deletions"),
        r.getAs[String]("author_name"), r.getAs[String]("message"),
        r.getAs[Long]("commit_epoch"))).toSet

  private def filesKey(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getAs[Long]("repository_id"), r.getAs[String]("commit_hash"),
        r.getAs[String]("file_path"))).toSet

  test("run2 with 2 new commits: modes since/noop, batch of exactly 2, incremental append equals full rebuild") {
    val root = Files.createTempDirectory("incr-etl")
    val dir = Files.createTempDirectory("incr-tables").toString
    val repo1 = initRepo(root, "repo1")
    addCommit(repo1, "a.txt", "one\n", "C1", "2024-01-01T00:00:00Z")
    addCommit(repo1, "b.txt", "two\nlines\n", "C2", "2024-01-02T00:00:00Z")
    val repo2 = initRepo(root, "repo2")
    addCommit(repo2, "r2.txt", "x\n", "R1", "2024-01-03T00:00:00Z")

    // run 1: everything is new -> mode full, whole history lands
    val r1 = GitEtlIncr.run(spark, root, dir)
    assert(r1.modes.values.toSet == Set("full"), r1.modes.toString)
    assert(r1.batchLogs == 3 && r1.failed.isEmpty)

    // 2 new commits in repo1 only
    addCommit(repo1, "c.txt", "three\n", "C3", "2024-01-04T00:00:00Z")
    addCommit(repo1, "a.txt", "one\nmore\n", "C4", "2024-01-05T00:00:00Z")

    val r2 = GitEtlIncr.run(spark, root, dir)
    val modesByName = r2.modes.map { case (p, m) =>
      java.nio.file.Paths.get(p).getFileName.toString -> m }
    assert(modesByName == Map("repo1" -> "since", "repo2" -> "noop"),
      modesByName.toString)
    assert(r2.batchLogs == 2, s"run2 must extract exactly the 2 new commits, got ${r2.batchLogs}")

    // (full rebuild == incremental append) on the fast-forward history
    val full = GitEtl.dataframes(spark, root, EtlConfig(), maxDepth = 1)
    assert(logsKey(Sinks.readSnapshot(spark, s"$dir/logs")) == logsKey(full("logs")))
    assert(filesKey(Sinks.readSnapshot(spark, s"$dir/changed_files")) ==
      filesKey(full("changed_files")))
    assert(Sinks.readSnapshot(spark, s"$dir/repositories").collect()
      .map(r => (r.getAs[Long]("repo_id"), r.getAs[String]("name"))).sorted.toSeq ==
      full("repositories").collect()
        .map(r => (r.getAs[Long]("repo_id"), r.getAs[String]("name"))).sorted.toSeq)
    full("events").unpersist()

    // immediate re-run: every repo noop, zero-row batch (replay safety)
    val r3 = GitEtlIncr.run(spark, root, dir)
    assert(r3.modes.values.toSet == Set("noop") && r3.batchLogs == 0)

    // time travel: run 1's version still readable, 3 commits
    assert(Sinks.readSnapshot(spark, s"$dir/logs", r1.logsVersion).count() == 3)
  }

  test("force-pushed repo takes the rewind fallback and is re-covered exactly once") {
    val root = Files.createTempDirectory("incr-rewind")
    val dir = Files.createTempDirectory("incr-rw-tables").toString
    val repo = initRepo(root, "rw")
    addCommit(repo, "a.txt", "v1\n", "A1", "2024-02-01T00:00:00Z")
    addCommit(repo, "b.txt", "v1\n", "A2", "2024-02-02T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)

    // rewrite history: amend the tip (old head is no longer an ancestor)
    Files.writeString(repo.resolve("b.txt"), "v2 amended\n")
    git(repo, "add", ".")
    commit(repo, "A2 amended", "2024-02-03T00:00:00Z", amend = true)

    val r = GitEtlIncr.run(spark, root, dir)
    assert(r.modes.values.toSeq == Seq("rewind"), r.modes.toString)
    // full re-extraction, but the anti-join admits only the genuinely
    // new commit: A1 is already committed, the amended A2 is new
    assert(r.batchLogs == 1, s"rewind must re-cover, never double: ${r.batchLogs}")
    val logs = Sinks.readSnapshot(spark, s"$dir/logs")
    val msgs = logs.collect().map(_.getAs[String]("message"))
    // append-only retention: the amended-away A2 stays in history
    // (older versions keep it readable); the amended commit appears
    // exactly once and nothing is duplicated
    assert(msgs.count(_ == "A2 amended") == 1)
    assert(msgs.count(_ == "A1") == 1)
    assert(logs.count() == logs.select("repository_id", "commit_hash").distinct().count())
  }

  test("new repos take ids after the previous maximum (stable ids, no renumbering)") {
    val root = Files.createTempDirectory("incr-ids")
    val dir = Files.createTempDirectory("incr-ids-tables").toString
    initRepo(root, "mrepo")
    addCommit(root.resolve("mrepo"), "m.txt", "m\n", "M1", "2024-03-01T00:00:00Z")
    initRepo(root, "zrepo")
    addCommit(root.resolve("zrepo"), "z.txt", "z\n", "Z1", "2024-03-02T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)
    val ids1 = Sinks.readSnapshot(spark, s"$dir/repositories").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("repo_id")).toMap
    assert(ids1 == Map("mrepo" -> 1L, "zrepo" -> 2L))

    // "arepo" sorts FIRST by name — a full rebuild would renumber
    // everything; the incremental dimension must not
    initRepo(root, "arepo")
    addCommit(root.resolve("arepo"), "a.txt", "a\n", "AA1", "2024-03-03T00:00:00Z")
    val r = GitEtlIncr.run(spark, root, dir)
    assert(r.batchLogs == 1)
    val ids2 = Sinks.readSnapshot(spark, s"$dir/repositories").collect()
      .map(r2 => r2.getAs[String]("name") -> r2.getAs[Long]("repo_id")).toMap
    assert(ids2 == Map("mrepo" -> 1L, "zrepo" -> 2L, "arepo" -> 3L), ids2.toString)
    // state carries the frontier for every live repo
    val heads = Sinks.readSnapshot(spark, s"$dir/state").collect()
      .map(r2 => r2.getAs[String]("name") -> r2.getAs[String]("head")).toMap
    assert(heads.keySet == Set("mrepo", "zrepo", "arepo"))
    heads.values.foreach(h => assert(h != null && h.length == 40))
    assert(heads("mrepo") == git(root.resolve("mrepo"), "rev-parse", "HEAD").trim)
  }

  private def lastVersion(dir: String, t: String) = Sinks.snapshotVersions(s"$dir/$t").last

  test("crash after the logs commit: the rerun finishes the batch, logs and changed_files equal a full rebuild") {
    val root = Files.createTempDirectory("incr-crash")
    val dir = Files.createTempDirectory("incr-crash-tables").toString
    val repo1 = initRepo(root, "repo1")
    addCommit(repo1, "a.txt", "one\n", "C1", "2024-04-01T00:00:00Z")
    val repo2 = initRepo(root, "repo2")
    addCommit(repo2, "r.txt", "r\n", "R1", "2024-04-02T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)
    // 2 new commits touching 3 files
    Files.writeString(repo1.resolve("c.txt"), "c\n")
    addCommit(repo1, "d.txt", "d\n", "C2", "2024-04-03T00:00:00Z")
    addCommit(repo1, "a.txt", "one\ntwo\n", "C3", "2024-04-04T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)
    // what a crash right after the logs commit leaves: the other
    // tables' data staged, their manifests never committed
    for (t <- Seq("changed_files", "repositories", "state"))
      Files.delete(java.nio.file.Paths.get(dir, t, "_manifests", s"v${lastVersion(dir, t)}.manifest"))
    assert(Sinks.readSnapshot(spark, s"$dir/changed_files").count() == 2)

    val r = GitEtlIncr.run(spark, root, dir)
    assert(r.batchLogs == 0, "the logs batch was already committed")
    assert(r.batchFiles == 3, s"the rerun must commit the 3 missing files, got ${r.batchFiles}")
    val full = GitEtl.dataframes(spark, root, EtlConfig(), maxDepth = 1)
    assert(logsKey(Sinks.readSnapshot(spark, s"$dir/logs")) == logsKey(full("logs")))
    assert(filesKey(Sinks.readSnapshot(spark, s"$dir/changed_files")) ==
      filesKey(full("changed_files")))
    assert(Sinks.readSnapshot(spark, s"$dir/changed_files").count() == full("changed_files").count())
    full("events").unpersist()
  }

  private def idsByName(dir: String) = Sinks.readSnapshot(spark, s"$dir/repositories").collect()
    .map(r => r.getAs[String]("name") -> r.getAs[Long]("repo_id")).toMap

  test("a deleted repo's id is never given to a new repo") {
    val root = Files.createTempDirectory("incr-retire")
    val dir = Files.createTempDirectory("incr-retire-tables").toString
    addCommit(initRepo(root, "a"), "a.txt", "a\n", "A1", "2024-05-01T00:00:00Z")
    addCommit(initRepo(root, "b"), "b.txt", "b\n", "B1", "2024-05-02T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)
    assert(idsByName(dir) == Map("a" -> 1L, "b" -> 2L))
    Process(Seq("rm", "-rf", root.resolve("b").toString)).!!
    GitEtlIncr.run(spark, root, dir)
    assert(idsByName(dir) == Map("a" -> 1L), "repositories is the current set")
    addCommit(initRepo(root, "c"), "c.txt", "c\n", "C1", "2024-05-03T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)
    assert(idsByName(dir) == Map("a" -> 1L, "c" -> 3L))
    val byId = Sinks.readSnapshot(spark, s"$dir/logs").collect()
      .groupBy(_.getAs[Long]("repository_id")).view
      .mapValues(_.map(_.getAs[String]("message")).toSet).toMap
    assert(byId == Map(1L -> Set("A1"), 2L -> Set("B1"), 3L -> Set("C1")), byId.toString)
  }

  test("a repo that fails validation once keeps its id and head") {
    val root = Files.createTempDirectory("incr-flaky")
    val dir = Files.createTempDirectory("incr-flaky-tables").toString
    Seq("a", "b", "c").zipWithIndex.foreach { case (n, i) =>
      addCommit(initRepo(root, n), s"$n.txt", s"$n\n", s"${n.toUpperCase}1", s"2024-06-0${i + 1}T00:00:00Z")
    }
    GitEtlIncr.run(spark, root, dir)
    assert(idsByName(dir) == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
    val gitDir = root.resolve("b").resolve(".git")
    val away = root.resolve("b").resolve("git-away")
    Files.move(gitDir, away)
    val r2 = GitEtlIncr.run(spark, root, dir)
    assert(r2.failed.keySet == Set(root.resolve("b").toString))
    Files.move(away, gitDir)
    val r3 = GitEtlIncr.run(spark, root, dir)
    assert(r3.modes(root.resolve("b").toString) == "noop", r3.modes.toString)
    assert(r3.batchLogs == 0, s"b's history must not be re-appended: ${r3.batchLogs}")
    assert(idsByName(dir) == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
    assert(Sinks.readSnapshot(spark, s"$dir/logs").count() == 3)
  }

  test("a refresh with a since, a rewound and a new repo runs at most 12 jobs") {
    val root = Files.createTempDirectory("incr-jobs")
    val dir = Files.createTempDirectory("incr-jobs-tables").toString
    val s = initRepo(root, "s")
    addCommit(s, "s.txt", "s\n", "S1", "2024-07-01T00:00:00Z")
    val r = initRepo(root, "r")
    addCommit(r, "a.txt", "a\n", "R1", "2024-07-02T00:00:00Z")
    addCommit(r, "b.txt", "b\n", "R2", "2024-07-03T00:00:00Z")
    GitEtlIncr.run(spark, root, dir)
    addCommit(s, "s.txt", "s\nmore\n", "S2", "2024-07-04T00:00:00Z")
    Files.writeString(r.resolve("b.txt"), "b amended\n")
    git(r, "add", ".")
    commit(r, "R2 amended", "2024-07-05T00:00:00Z", amend = true)
    addCommit(initRepo(root, "n"), "n.txt", "n\n", "N1", "2024-07-06T00:00:00Z")

    val (rep, jobs) = JobCount(spark)(GitEtlIncr.run(spark, root, dir))
    val modes = rep.modes.map { case (p, m) => java.nio.file.Paths.get(p).getFileName.toString -> m }
    assert(modes == Map("s" -> "since", "r" -> "rewind", "n" -> "full"), modes.toString)
    assert((rep.batchLogs, rep.batchFiles) == (3L, 3L), rep.toString)
    info(s"refresh: $jobs jobs")
    assert(jobs <= 12, s"the refresh ran $jobs jobs")
    assert(idsByName(dir) == Map("r" -> 1L, "s" -> 2L, "n" -> 3L))
  }
}
