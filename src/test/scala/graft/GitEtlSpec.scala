package graft

import java.nio.file.{Files, Path}
import scala.sys.process._
import graft.etl.{EtlConfig, GitEtl, GitLogSource}
import org.scalatest.funsuite.AnyFunSuite

/** Golden ETL test per FIXTURES.md §B: a synthetic git-repo tree
  * exercising every §1.3 semantic of the reference (root commit,
  * plain edit, exact rename, author-map override, excluded merge,
  * summary-only message, missing/present remote URL, ignore list,
  * non-repo dir).
  */
class GitEtlSpec extends AnyFunSuite {
  import TestSpark.spark

  private def sh(dir: Path, cmd: String*): String =
    Process(cmd, dir.toFile,
      "GIT_AUTHOR_DATE" -> "2024-01-01T00:00:00Z",
      "GIT_COMMITTER_DATE" -> "2024-01-01T00:00:00Z").!!

  private def git(dir: Path, args: String*): String =
    sh(dir, "git" +: args: _*)

  private def commit(dir: Path, msg: String, author: String = "Dev One <dev@example.com>", date: String): Unit =
    Process(Seq("git", "commit", "-q", "--no-verify", "-m", msg, s"--author=$author"),
      dir.toFile,
      "GIT_AUTHOR_DATE" -> date, "GIT_COMMITTER_DATE" -> date,
      "GIT_COMMITTER_NAME" -> "CI", "GIT_COMMITTER_EMAIL" -> "ci@example.com").!!

  /** Build the fixture tree once per suite. */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("etl-fixture")
    // repo1: the full semantic gauntlet
    val repo1 = Files.createDirectory(r.resolve("repo1"))
    git(repo1, "init", "-q", "-b", "main")
    git(repo1, "config", "user.email", "dev@example.com")
    git(repo1, "config", "user.name", "Dev One")
    // C1: root commit, two files (parent_hash must be 40 zeros)
    Files.writeString(repo1.resolve("a.txt"), "line1\nline2\n")
    Files.writeString(repo1.resolve("b.txt"), "alpha\nbeta\ngamma\n")
    git(repo1, "add", ".")
    commit(repo1, "C1 root", date = "2024-01-01T00:00:00Z")
    // C2: edit a.txt (+2/-1)
    Files.writeString(repo1.resolve("a.txt"), "line1\nline2changed\nline3\nline4\n")
    git(repo1, "add", ".")
    commit(repo1, "C2 edit", date = "2024-01-02T00:00:00Z")
    // C3: exact rename b.txt -> c.txt (changed_files must record c.txt)
    git(repo1, "mv", "b.txt", "c.txt")
    commit(repo1, "C3 rename", date = "2024-01-03T00:00:00Z")
    // C4: authored by the aliased email (config must rewrite the name)
    Files.writeString(repo1.resolve("d.txt"), "dd\n")
    git(repo1, "add", ".")
    commit(repo1, "C4 aliased", author = "Ali As <alias@example.com>", date = "2024-01-04T00:00:00Z")
    // branch + merge: merge commit M must be absent from logs
    git(repo1, "checkout", "-q", "-b", "feature")
    Files.writeString(repo1.resolve("feat.txt"), "f\n")
    git(repo1, "add", ".")
    commit(repo1, "C5 feature work", date = "2024-01-05T00:00:00Z")
    git(repo1, "checkout", "-q", "main")
    Files.writeString(repo1.resolve("main.txt"), "m\n")
    git(repo1, "add", ".")
    commit(repo1, "C6 main work", date = "2024-01-06T00:00:00Z")
    Process(Seq("git", "merge", "-q", "--no-ff", "-m", "M merge", "feature"),
      repo1.toFile,
      "GIT_AUTHOR_DATE" -> "2024-01-07T00:00:00Z", "GIT_COMMITTER_DATE" -> "2024-01-07T00:00:00Z",
      "GIT_COMMITTER_NAME" -> "CI", "GIT_COMMITTER_EMAIL" -> "ci@example.com").!!
    // C7: multi-line message — only the summary line must be stored
    Files.writeString(repo1.resolve("e.txt"), "e\n")
    git(repo1, "add", ".")
    commit(repo1, "C7 summary line\n\nbody line 1\nbody line 2", date = "2024-01-08T00:00:00Z")

    // repo2: has a github remote (URL rewrite)
    val repo2 = Files.createDirectory(r.resolve("repo2"))
    git(repo2, "init", "-q", "-b", "main")
    git(repo2, "config", "user.email", "dev@example.com")
    git(repo2, "config", "user.name", "Dev One")
    git(repo2, "remote", "add", "origin", "git@github.com:x/y.git")
    Files.writeString(repo2.resolve("r2.txt"), "hello\n")
    git(repo2, "add", ".")
    commit(repo2, "R2 only", date = "2024-02-01T00:00:00Z")
    // rebased-commit shape: author date != committer date — the stored
    // time must be COMMITTER time (repository.rs:178 commit.time())
    Files.writeString(repo2.resolve("r2b.txt"), "x\n")
    git(repo2, "add", ".")
    Process(Seq("git", "commit", "-q", "--no-verify", "-m", "R2 rebased"),
      repo2.toFile,
      "GIT_AUTHOR_DATE" -> "2024-02-01T00:00:00Z",
      "GIT_COMMITTER_DATE" -> "2024-02-05T00:00:00Z",
      "GIT_COMMITTER_NAME" -> "CI", "GIT_COMMITTER_EMAIL" -> "ci@example.com").!!

    // vendor: ignored by config; data: not a git repo
    Files.createDirectory(r.resolve("vendor"))
    Files.createDirectory(r.resolve("data"))
    r
  }

  private lazy val config = EtlConfig(
    ignoredRepositories = Seq("vendor"),
    authorMap = Map("alias@example.com" -> "Canonical Name"))

  private lazy val tables = GitEtl.dataframes(spark, root, config, maxDepth = 1)
  private lazy val report = GitEtl.report(tables)

  test("report: repo1+repo2 analyzed, vendor ignored, data failed") {
    assert(report.analyzed == Seq("repo1", "repo2"))
    assert(report.ignored == Seq("vendor"))
    // failed is keyed by full path (basenames can collide across dirs)
    assert(report.failed.keySet.map(p => java.nio.file.Paths.get(p).getFileName.toString) == Set("data"))
  }

  test("report: every field equals the tables' own value, in no Spark job") {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val t = GitEtl.dataframes(spark, root, config, maxDepth = 1)
    val (rep, jobs) = JobCount(spark)(GitEtl.report(t))
    assert(jobs == 0, s"report ran $jobs jobs")
    assert(rep.analyzed ==
      t("repositories").collect().sortBy(_.getAs[Long]("repo_id")).map(_.getAs[String]("name")).toSeq)
    assert(rep.ignored == t("ignored").collect().map(_.getString(0)).toSeq)
    assert(rep.failed ==
      t("failures").collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(rep.nLogs == t("logs").count())
    assert(rep.nChangedFiles == t("changed_files").count())
    val perRepo = t("logs").groupBy("repository_id").agg(count(lit(1)).as("n"))
      .join(t("repositories"), col("repository_id") === col("repo_id"), "right")
      .select(col("name"), coalesce(col("n"), lit(0L)), col("repo_id"))
      .collect().sortBy(_.getLong(2))
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rep.commitsPerRepo == perRepo)
    assert(perRepo == Seq("repo1" -> 7L, "repo2" -> 2L))
    t("events").unpersist()
  }

  test("report: repos in repo_id order, the dimension's UTF-8 byte order") {
    // U+FF41 is EF BD 81 in UTF-8 but FF41 in UTF-16; U+1F600 is
    // F0 9F 98 80 but D83D DE00: the two orders disagree
    val r = Files.createTempDirectory("etl-order")
    for (name <- Seq("\uFF41", "\uD83D\uDE00")) {
      val repo = Files.createDirectory(r.resolve(name))
      git(repo, "init", "-q", "-b", "main")
      git(repo, "config", "user.email", "o@x.io")
      git(repo, "config", "user.name", "O")
      Files.writeString(repo.resolve("f.txt"), s"$name\n")
      git(repo, "add", ".")
      commit(repo, s"$name commit", date = "2024-08-01T00:00:00Z")
    }
    val t = GitEtl.dataframes(spark, r, EtlConfig(), maxDepth = 1)
    val rep = GitEtl.report(t)
    val byId = t("repositories").collect().sortBy(_.getAs[Long]("repo_id")).map(_.getAs[String]("name")).toSeq
    assert(byId == Seq("\uFF41", "\uD83D\uDE00"))
    assert(rep.analyzed == byId)
    assert(rep.commitsPerRepo == byId.map(_ -> 1L))
    t("events").unpersist()
  }

  test("extraction names git's stderr when git log fails") {
    val r = Files.createTempDirectory("etl-corrupt")
    val repo = Files.createDirectory(r.resolve("corrupt"))
    git(repo, "init", "-q", "-b", "main")
    git(repo, "config", "user.email", "c@x.io")
    git(repo, "config", "user.name", "C")
    Files.writeString(repo.resolve("a.txt"), "a\n")
    git(repo, "add", ".")
    commit(repo, "root", date = "2024-07-01T00:00:00Z")
    val rootHash = git(repo, "rev-parse", "HEAD").trim
    Files.writeString(repo.resolve("a.txt"), "b\n")
    git(repo, "add", ".")
    commit(repo, "tip", date = "2024-07-02T00:00:00Z")
    // HEAD still resolves (validation passes) but the walk cannot read
    // the root commit
    Files.delete(repo.resolve(".git/objects").resolve(rootHash.take(2)).resolve(rootHash.drop(2)))
    val err = intercept[RuntimeException](GitLogSource.extractRepo(repo).foreach(_ => ()))
    assert(err.getMessage.contains("git log exited with"), err.getMessage)
    assert(err.getMessage.contains(rootHash), err.getMessage)
  }

  test("repositories: deterministic ids, URL rewrite, no-remote sentinel") {
    val repos = tables("repositories").collect()
      .map(r => (r.getAs[Long]("repo_id"), r.getAs[String]("name"), r.getAs[String]("url")))
      .sortBy(_._1)
    assert(repos.length == 2)
    assert(repos(0) == ((1L, "repo1", "(no remote url)")))
    assert(repos(1) == ((2L, "repo2", "https://github.com/x/y.git")))
  }

  test("logs: merge excluded, 9 commits total, summary-only messages") {
    val logs = tables("logs").collect()
    assert(logs.length == 9) // repo1: C1..C7 (7), repo2: 2; merge M absent
    val messages = logs.map(_.getAs[String]("message")).toSet
    assert(!messages.exists(_.contains("merge")))
    assert(messages.contains("C7 summary line")) // body stripped
    assert(!messages.exists(_.contains("body line")))
  }

  test("root commit: zero-OID parent and whole-tree insertions") {
    val c1 = tables("logs").collect().find(_.getAs[String]("message") == "C1 root").get
    assert(c1.getAs[String]("parent_hash") == "0" * 40)
    assert(c1.getAs[Long]("insertions") == 5) // 2 lines a.txt + 3 lines b.txt
    assert(c1.getAs[Long]("deletions") == 0)
  }

  test("plain edit stats: +3/-1 on C2") {
    val c2 = tables("logs").collect().find(_.getAs[String]("message") == "C2 edit").get
    assert(c2.getAs[Long]("insertions") == 3)
    assert(c2.getAs[Long]("deletions") == 1)
  }

  test("exact rename: changed_files records the NEW path, zero stats") {
    val c3 = tables("logs").collect().find(_.getAs[String]("message") == "C3 rename").get
    assert(c3.getAs[Long]("insertions") == 0)
    assert(c3.getAs[Long]("deletions") == 0)
    val files = tables("changed_files").collect()
      .filter(_.getAs[String]("commit_hash") == c3.getAs[String]("commit_hash"))
      .map(_.getAs[String]("file_path"))
    assert(files.toSeq == Seq("c.txt"))
  }

  test("author map: name overridden by email lookup, email preserved") {
    val c4 = tables("logs").collect().find(_.getAs[String]("message") == "C4 aliased").get
    assert(c4.getAs[String]("author_name") == "Canonical Name")
    assert(c4.getAs[String]("author_email") == "alias@example.com")
  }

  test("changed_files counts match per-commit file lists") {
    assert(report.nChangedFiles == tables("changed_files").count())
    // C1 touched 2 files
    val c1 = tables("logs").collect().find(_.getAs[String]("message") == "C1 root").get
    val c1files = tables("changed_files").collect()
      .filter(_.getAs[String]("commit_hash") == c1.getAs[String]("commit_hash"))
      .map(_.getAs[String]("file_path")).sorted
    assert(c1files.toSeq == Seq("a.txt", "b.txt"))
  }

  test("rebased commit stores committer time, not author time") {
    val r = tables("logs").collect().find(_.getAs[String]("message") == "R2 rebased").get
    assert(r.getAs[Long]("commit_epoch") == 1707091200L) // 2024-02-05T00:00:00Z
  }

  test("commit_datetime equals epoch seconds") {
    tables("logs").collect().foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("commit_datetime").getTime / 1000 ==
        r.getAs[Long]("commit_epoch"))
    }
  }

  test("same-named repos in different directories stay distinct (no dup/merge)") {
    val r = Files.createTempDirectory("etl-dup")
    Seq("team1", "team2").foreach { team =>
      val repo = Files.createDirectories(r.resolve(team).resolve("app"))
      git(repo, "init", "-q", "-b", "main")
      git(repo, "config", "user.email", s"$team@x.io")
      git(repo, "config", "user.name", team)
      Files.writeString(repo.resolve(s"$team.txt"), s"$team\n")
      git(repo, "add", ".")
      commit(repo, s"$team commit", date = "2024-03-01T00:00:00Z")
    }
    val t = GitEtl.dataframes(spark, r, EtlConfig(), maxDepth = 2)
    val rep = GitEtl.report(t)
    assert(rep.analyzed == Seq("app", "app"))
    val repos = t("repositories").collect()
    assert(repos.length == 2 && repos.map(_.getAs[Long]("repo_id")).toSet == Set(1L, 2L))
    val logs = t("logs").collect()
    assert(logs.length == 2, "each commit must appear exactly once")
    assert(logs.map(_.getAs[Long]("repository_id")).toSet == Set(1L, 2L))
  }

  test("non-ASCII file paths come through unquoted") {
    val r = Files.createTempDirectory("etl-utf8")
    val repo = Files.createDirectory(r.resolve("uni"))
    git(repo, "init", "-q", "-b", "main")
    git(repo, "config", "user.email", "u@x.io")
    git(repo, "config", "user.name", "U")
    Files.writeString(repo.resolve("café.txt"), "x\n")
    git(repo, "add", ".")
    commit(repo, "unicode path", date = "2024-03-02T00:00:00Z")
    val t = GitEtl.dataframes(spark, r, EtlConfig(), maxDepth = 1)
    val files = t("changed_files").collect().map(_.getAs[String]("file_path"))
    assert(files.toSeq == Seq("café.txt"), files.mkString(","))
  }

  test("downstream analytics over the produced tables") {
    // write the fixture's tables and run the reference-user queries
    val out = Files.createTempDirectory("etl-out").toString
    tables("repositories").write.mode("overwrite").parquet(s"$out/repositories.parquet")
    tables("logs").write.mode("overwrite").parquet(s"$out/logs.parquet")
    tables("changed_files").write.mode("overwrite").parquet(s"$out/changed_files.parquet")

    val top = graft.etl.GitAnalytics.topFilesPerRepo(spark, out, k = 3).collect()
    // repo1: a.txt changed twice (C1, C2) — must rank first
    val repo1Top = top.filter(_.getAs[String]("repo") == "repo1")
    assert(repo1Top.head.getAs[String]("file_path") == "a.txt")
    assert(repo1Top.head.getAs[Long]("n_changes") == 2)

    val activity = graft.etl.GitAnalytics.authorActivity(spark, out).collect()
    assert(activity.map(_.getAs[String]("author_name")).toSet ==
      Set("Dev One", "Canonical Name"))

    val churn = graft.etl.GitAnalytics.cumulativeChurn(spark, out).collect()
    // cumulative churn is non-decreasing within each repo
    churn.groupBy(_.getAs[Long]("repository_id")).values.foreach { rs =>
      val cs = rs.sortBy(r => (r.getAs[Long]("commit_epoch"), r.getAs[String]("commit_hash")))
        .map(_.getAs[Long]("cumulative_churn"))
      assert(cs.sliding(2).forall { case Array(a, b) => b >= a; case _ => true })
    }

    val cadence = graft.etl.GitAnalytics.commitCadence(spark, out).collect()
    // repo1 commits are exactly 1 day apart in the fixture
    val repo1 = cadence.find(_.getAs[Long]("repository_id") == 1L).get
    assert(repo1.getAs[Double]("median_gap_s") == 86400.0)

    val found = graft.etl.GitAnalytics.searchCommits(spark, out, "rename").collect()
    assert(found.length == 1 && found.head.getSeq[String](5) == Seq("c.txt"))

    // co-change: a.txt+b.txt share only C1 (below min count 2), so
    // with minPairCount=1 the pair appears once; with the default 2 it
    // doesn't
    val co1 = graft.etl.GitAnalytics.coChangedFiles(spark, out, minPairCount = 1).collect()
    val pair = co1.find(r => r.getAs[String]("file_a") == "a.txt" && r.getAs[String]("file_b") == "b.txt")
    assert(pair.exists(_.getAs[Long]("n_together") == 1L))
    assert(graft.etl.GitAnalytics.coChangedFiles(spark, out).collect()
      .forall(_.getAs[Long]("n_together") >= 2L))
  }

  /** The fixture's three tables, written once by [[GitEtl.write]]. */
  private lazy val written: String = {
    val out = Files.createTempDirectory("etl-written").toString
    GitEtl.write(tables, out)
    out
  }

  test("dataframes + write + report run at most 8 jobs: one extraction, no dimension job") {
    val out = Files.createTempDirectory("etl-jobs").toString
    val ((t, rep), jobs) = JobCount(spark) {
      val t = GitEtl.dataframes(spark, root, config, maxDepth = 1)
      GitEtl.write(t, out)
      (t, GitEtl.report(t))
    }
    t("events").unpersist()
    info(s"dataframes + write + report: $jobs jobs")
    assert(jobs <= 8, s"dataframes + write + report ran $jobs jobs")
    assert(rep.commitsPerRepo == Seq("repo1" -> 7L, "repo2" -> 2L))
    assert(spark.read.parquet(s"$out/logs.parquet").count() == 9)
  }

  test("dataframes alone runs exactly one job; its driver-side tables run none") {
    val (t, jobs) = JobCount(spark)(GitEtl.dataframes(spark, root, config, maxDepth = 1))
    info(s"dataframes: $jobs jobs")
    assert(jobs == 1, s"dataframes ran $jobs jobs")
    val ((names, failures), localJobs) = JobCount(spark) {
      (t("repositories").collect().map(_.getString(1)).toSeq.sorted, t("failures").collect().length)
    }
    assert(localJobs == 0, s"the local relations ran $localJobs jobs")
    assert(names == Seq("repo1", "repo2") && failures == 1)
    t("events").unpersist()
  }

  test("the written tables' footer schemas equal the inferred ones") {
    for (name <- Seq("repositories", "logs", "changed_files")) {
      val path = s"$written/$name.parquet"
      assert(graft.sources.Sinks.parquetSchema(spark, path) == spark.read.parquet(path).schema, name)
    }
  }

  test("constructing each GitAnalytics query runs no job") {
    import graft.etl.GitAnalytics._
    val dir = written // the tables are written before counting starts
    val queries = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "topFilesPerRepo" -> (() => topFilesPerRepo(spark, dir)),
      "authorActivity" -> (() => authorActivity(spark, dir)),
      "cumulativeChurn" -> (() => cumulativeChurn(spark, dir)),
      "commitCadence" -> (() => commitCadence(spark, dir)),
      "coChangedFiles" -> (() => coChangedFiles(spark, dir, minPairCount = 1)),
      "searchCommits" -> (() => searchCommits(spark, dir, "rename")))
    for ((name, q) <- queries) {
      val (df, jobs) = JobCount(spark)(q())
      info(s"constructing $name: $jobs jobs")
      assert(jobs == 0, s"constructing $name ran $jobs jobs")
      assert(df.collect().nonEmpty, name)
    }
  }

  test("diff-less commits with empty messages parse (root and non-root)") {
    // The -z stream can end right after %ct's NUL (no summary byte) —
    // must yield the "(no commit summary)" sentinel, not a crash.
    val r = Files.createTempDirectory("etl-empty")
    val repo = Files.createDirectory(r.resolve("emptymsg"))
    git(repo, "init", "-q", "-b", "main")
    git(repo, "config", "user.email", "e@x.io")
    git(repo, "config", "user.name", "E")
    Process(Seq("git", "commit", "-q", "--allow-empty", "--allow-empty-message", "-m", ""),
      repo.toFile,
      "GIT_AUTHOR_DATE" -> "2024-05-01T00:00:00Z", "GIT_COMMITTER_DATE" -> "2024-05-01T00:00:00Z",
      "GIT_COMMITTER_NAME" -> "CI", "GIT_COMMITTER_EMAIL" -> "ci@example.com").!!
    Process(Seq("git", "commit", "-q", "--allow-empty", "--allow-empty-message", "-m", ""),
      repo.toFile,
      "GIT_AUTHOR_DATE" -> "2024-05-02T00:00:00Z", "GIT_COMMITTER_DATE" -> "2024-05-02T00:00:00Z",
      "GIT_COMMITTER_NAME" -> "CI", "GIT_COMMITTER_EMAIL" -> "ci@example.com").!!
    val evs = GitLogSource.extractRepo(repo).toVector
    val commits = evs.filter(_.kind == "commit").map(_.commit)
    assert(commits.length == 2)
    assert(commits.forall(_.message == "(no commit summary)"))
    assert(commits.forall(c => c.insertions == 0 && c.changed_files.isEmpty))
    assert(commits.map(_.parent_hash).count(_ == "0" * 40) == 1) // the root
  }

  test("recursive scan prunes ignored subtrees and never descends into repos") {
    val r = Files.createTempDirectory("etl-scan")
    // vendor/nested-repo must NOT become a candidate (ignored subtree)
    val nested = Files.createDirectories(r.resolve("vendor").resolve("nested"))
    git(nested, "init", "-q", "-b", "main")
    // realrepo with a deep non-git working tree that must not explode
    val real = Files.createDirectory(r.resolve("realrepo"))
    git(real, "init", "-q", "-b", "main")
    Files.createDirectories(real.resolve("node_modules").resolve("a").resolve("b"))
    // a deep repo under a plain dir IS found recursively
    val deep = Files.createDirectories(r.resolve("group").resolve("deeprepo"))
    git(deep, "init", "-q", "-b", "main")
    val (cands, ign) = GitLogSource.scanDirectories(r, Int.MaxValue, Seq("vendor"))
    val names = cands.map(_.getFileName.toString)
    assert(ign == Seq("vendor"))
    assert(names.contains("realrepo") && names.contains("deeprepo"))
    assert(!names.contains("nested"), "ignored subtree leaked a repo")
    assert(!names.exists(Set("node_modules", "a", "b")), "descended into a repo's working tree")
    assert(names.contains("group")) // top-level non-repo surfaces as skippable candidate
  }

  test("scan handles .git-file worktrees and symlink loops") {
    val r = Files.createTempDirectory("etl-wt")
    val base = Files.createDirectory(r.resolve("base"))
    git(base, "init", "-q", "-b", "main")
    git(base, "config", "user.email", "w@x.io")
    git(base, "config", "user.name", "W")
    Files.writeString(base.resolve("f.txt"), "x\n")
    git(base, "add", ".")
    commit(base, "base commit", date = "2024-06-01T00:00:00Z")
    // a linked worktree: its .git is a FILE pointing at the main repo
    val group = Files.createDirectory(r.resolve("group"))
    git(base, "worktree", "add", "-q", "-b", "wt-branch", group.resolve("wt").toString)
    // a symlink loop that must not hang the recursive walk
    Files.createSymbolicLink(group.resolve("loop"), group)
    val (cands, _) = GitLogSource.scanDirectories(r, Int.MaxValue, Nil)
    val names = cands.map(_.getFileName.toString)
    assert(names.contains("wt"), s"worktree checkout not detected: $names")
    assert(GitLogSource.validateRepo(group.resolve("wt")).isRight)
    val evs = GitLogSource.extractRepo(group.resolve("wt")).toVector
    assert(evs.count(_.kind == "commit") == 1)
  }

  test("extraction streams a 3000-commit history across many pipe buffers") {
    // fast-import builds the history in one subprocess; 3000 commits of
    // `git log` output span many pipe buffers, so the walk must stream
    // across their boundaries (the regime the tiny fixtures never hit)
    val r = Files.createTempDirectory("etl-big")
    val repo = Files.createDirectory(r.resolve("big"))
    git(repo, "init", "-q", "-b", "main")
    val fi = new StringBuilder
    (1 to 3000).foreach { i =>
      val msg = s"c$i"; val content = i.toString
      fi.append(s"commit refs/heads/main\n")
        .append(s"committer Big Repo <big@x.io> ${1700000000 + i} +0000\n")
        .append(s"data ${msg.getBytes("UTF-8").length}\n$msg\n")
        .append(s"M 644 inline f${i % 7}.txt\n")
        .append(s"data ${content.getBytes("UTF-8").length}\n$content\n")
    }
    val fiFile = r.resolve("fi.txt")
    Files.writeString(fiFile, fi.toString)
    Process(Seq("bash", "-c", s"git fast-import --quiet < $fiFile"), repo.toFile).!!
    val evs = GitLogSource.extractRepo(repo).toVector
    assert(evs.filter(_.kind == "commit").map(_.commit.commit_hash).toSet.size == 3000)
    assert(evs.last.kind == "repo" && evs.last.commits == 3000)
  }

  test("extractRepo: the repo event comes last with its counts; non-repos yield an error") {
    val repo1 = root.resolve("repo1")
    val evs = GitLogSource.extractRepo(repo1).toVector
    val repo = evs.last
    assert(repo.kind == "repo" && repo.repo_url == "(no remote url)")
    assert(evs.init.forall(_.kind == "commit"))
    val commits = evs.init.map(_.commit)
    assert(commits.size == 7) // C1..C7, merge excluded
    assert(repo.commits == 7 && repo.files == commits.map(_.changed_files.size).sum)
    val bad = GitLogSource.extractRepo(root.resolve("data")).toVector
    assert(bad.map(_.kind) == Vector("error"))
    assert(bad.head.error.contains("not a git repository"))
  }

  test("config TOML-subset parser") {
    val cfg = EtlConfig.parse(Seq(
      """# comment""",
      """ignored_repositories = ["vendor", "archive"]""",
      """[author_map]""",
      """"alias@example.com" = "Canonical Name"""",
      """"o@x.io" = "Other" """))
    assert(cfg.ignoredRepositories == Seq("vendor", "archive"))
    assert(cfg.authorMap == Map("alias@example.com" -> "Canonical Name", "o@x.io" -> "Other"))
  }

  test("config resolution: cwd config.toml picked up by default, explicit bad path throws") {
    val cwd = Files.createTempDirectory("etl-cfg")
    // no config.toml in cwd -> silent default, like the reference
    assert(EtlConfig.resolve(None, cwd) == EtlConfig())
    Files.writeString(cwd.resolve("config.toml"),
      "ignored_repositories = [\"vendor\"]\n[author_map]\n\"a@x.io\" = \"A\"\n")
    val picked = EtlConfig.resolve(None, cwd)
    assert(picked.ignoredRepositories == Seq("vendor"))
    assert(picked.authorMap == Map("a@x.io" -> "A"))
    // explicit path stays loud on a typo
    intercept[java.io.FileNotFoundException] {
      EtlConfig.resolve(Some(cwd.resolve("nope.toml")), cwd)
    }
  }

  test("adversarial filenames: literal ' => ', embedded newline, rename still records NEW path") {
    // These were silent-corruption cases for line-based --numstat text
    // parsing; the -z NUL protocol must carry them exactly.
    val r = Files.createTempDirectory("etl-z")
    val repo = Files.createDirectory(r.resolve("zrepo"))
    git(repo, "init", "-q", "-b", "main")
    git(repo, "config", "user.email", "z@x.io")
    git(repo, "config", "user.name", "Z")
    Files.writeString(repo.resolve("a => b.txt"), "arrow\n")
    Files.writeString(repo.resolve("weird\nname.txt"), "nl\n")
    Files.writeString(repo.resolve("old.txt"), "content\n")
    git(repo, "add", ".")
    commit(repo, "Z1 adversarial", date = "2024-04-01T00:00:00Z")
    git(repo, "mv", "old.txt", "new => dir.txt") // rename TO an arrow name
    commit(repo, "Z2 rename", date = "2024-04-02T00:00:00Z")
    val t = GitEtl.dataframes(spark, r, EtlConfig(), maxDepth = 1)
    val logs = t("logs").collect()
    val byMsg = logs.map(l => l.getAs[String]("message") -> l.getAs[String]("commit_hash")).toMap
    def filesOf(msg: String) = t("changed_files").collect()
      .filter(_.getAs[String]("commit_hash") == byMsg(msg))
      .map(_.getAs[String]("file_path")).sorted.toSeq
    assert(filesOf("Z1 adversarial") == Seq("a => b.txt", "old.txt", "weird\nname.txt"))
    assert(filesOf("Z2 rename") == Seq("new => dir.txt")) // NEW path, zero ambiguity
    val z1 = logs.find(_.getAs[String]("message") == "Z1 adversarial").get
    assert(z1.getAs[Long]("insertions") == 3)
  }
}
