package graft.etl

import java.io.{BufferedInputStream, BufferedReader, ByteArrayOutputStream, File,
  IOException, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Try

/** One extracted commit, pre-normalization (the analog of the
  * reference's `GitLog`, log.rs:6-25, plus the repo identity carried
  * alongside instead of a SQLite FK).
  */
final case class CommitRow(
    repo_name: String,
    repo_path: String,
    repo_url: String,
    commit_hash: String,
    parent_hash: String,
    author_name: String,
    author_email: String,
    commit_epoch: Long,
    message: String,
    insertions: Long,
    deletions: Long,
    changed_files: Seq[String])

/** One executor-side extraction event — the union row type that lets a
  * single distributed pass produce the repositories dimension, the
  * commit stream, AND the failure report:
  *
  *  - kind="repo":   the path validated as a git repository (url set);
  *    emitted even when the history yields zero non-merge commits, so
  *    the repositories table includes empty/all-merge repos exactly as
  *    the reference does (analyzer.rs:299-310). It ends its repo's
  *    stream and counts what came before it: `commits` rows, and
  *    `files` summed `changed_files` sizes;
  *  - kind="commit": one extracted commit (commit set);
  *  - kind="error":  validation failed (error set) — the reference's
  *    silent skip (analyzer.rs:351) surfaced as data.
  */
final case class ExtractEvent(
    kind: String,
    repo_name: String,
    repo_path: String,
    repo_url: String,
    error: String,
    commit: CommitRow,
    // set on kind="repo" events: the repo's HEAD at extraction time
    // (an incremental run's next frontier) and how this run extracted
    // it — full | since | noop | rewind
    head: String = null,
    mode: String = null,
    commits: Long = 0L,
    files: Long = 0L)

/** Git history extraction via `git log` parsing (the JVM has no
  * bundled JGit in /opt/spark/jars, and libgit2 is C — parsing
  * porcelain output is the portable executor-side path).
  *
  * Semantics reproduced from the reference (SURVEY.md §1.3):
  *  - merge commits excluded (`--no-merges` ≡ parent_count() < 2,
  *    repository.rs:112);
  *  - root commits diff against the empty tree, parent_hash = 40×'0'
  *    (repository.rs:119-133, 175);
  *  - first-parent diffs only (implicit in `git log` for non-merges,
  *    repository.rs:120);
  *  - exact-match rename/copy detection (`-M100% -C100%` ≡
  *    find_similar(exact_match_only), repository.rs:142-147), with the
  *    NEW path recorded (repository.rs:149-152);
  *  - submodules ignored (`-c diff.ignoreSubmodules=all`,
  *    repository.rs:137);
  *  - sentinel defaults, never NULL: "(no author name)",
  *    "(no author email)", "(no commit summary)", "(no remote url)"
  *    (repository.rs:164-179, 192);
  *  - remote URL rewrite git@github.com: → https://github.com/
  *    (repository.rs:193);
  *  - commit time is COMMITTER time (`%ct` ≡ commit.time().seconds(),
  *    repository.rs:178) — author time differs on rebased/cherry-picked
  *    commits.
  *
  * Parsing is NUL-delimited end to end (`-z` + `%x00` field
  * separators): no byte that can legally appear inside git metadata or
  * a filename is used as a delimiter, so author names / summaries with
  * control characters, filenames containing a literal " => ", and even
  * filenames with embedded newlines all come through exactly — these
  * were silent-corruption cases for the earlier line-based `--numstat`
  * text parse.
  */
object GitLogSource {

  val ZeroOid = "0" * 40
  val NoAuthorName  = "(no author name)"
  val NoAuthorEmail = "(no author email)"
  val NoSummary     = "(no commit summary)"
  val NoRemoteUrl   = "(no remote url)"

  // \x01 marks a commit header. It is unambiguous by POSITION, not by
  // rarity: a NUL-token can only start with \x01 when it is our header
  // marker — plain numstat entry tokens start with the insertion count,
  // and rename path tokens are consumed positionally (see parseTokens),
  // so even a filename beginning with \x01 cannot be misread.
  private val HeaderMark = '\u0001'

  /** Directory scan (analyzer.rs:102-135) up to `maxDepth`, excluding
    * `.git` dirs and configured ignores. Returns (candidates, ignored).
    *
    * Pruning rules (matter once --recursive makes maxDepth unbounded):
    *  - an ignored name prunes its WHOLE subtree (a repo nested under
    *    vendor/ must not sneak in through recursion);
    *  - a directory that is itself a git repository is a candidate and
    *    is never descended into (its working tree — node_modules and
    *    friends — must not become thousands of bogus candidates);
    *  - top-level non-repo dirs are still candidates, so they surface
    *    as skipped in the report exactly like the reference
    *    (analyzer.rs:255-263); deeper non-repo dirs are only traversal
    *    nodes.
    */
  def scanDirectories(
      root: Path, maxDepth: Int, ignored: Seq[String]): (Seq[Path], Seq[String]) = {
    // Manual per-directory listing instead of Files.walk: one
    // unreadable subdirectory must not abort the whole scan (walk's
    // iterator throws UncheckedIOException mid-traversal and can't be
    // resumed), and each stream is closed deterministically.
    // symlinked directories are never followed: a self-referencing
    // link (root/a/loop -> root/a) would otherwise recurse forever
    // under --recursive
    def children(dir: Path): Vector[Path] = {
      val stream = Try(Files.list(dir))
      stream.map { st =>
        try st.iterator().asScala
          .filter(p => Files.isDirectory(p) && !Files.isSymbolicLink(p))
          .toVector
        finally st.close()
      }.getOrElse(Vector.empty) // unreadable dir -> skipped, not fatal
    }
    def looksLikeRepo(p: Path): Boolean =
      // .git may be a FILE (linked worktrees, submodule checkouts)
      Files.exists(p.resolve(".git")) || isBareRepo(p)
    val cands = Vector.newBuilder[Path]
    val ign   = Vector.newBuilder[String]
    def walk(dir: Path, depth: Int): Unit =
      if (depth <= maxDepth) children(dir).foreach { c =>
        val name = c.getFileName.toString
        if (name == ".git") ()                      // never descend into .git
        else if (ignored.contains(name)) ign += name // prune the subtree
        else if (looksLikeRepo(c)) cands += c        // repo: never descend inside
        else {
          if (depth == 1) cands += c // reference parity: surfaces as skipped
          walk(c, depth + 1)
        }
      }
    walk(root, 1)
    (cands.result().sortBy(_.toString), ign.result().sorted)
  }

  private def isBareRepo(p: Path): Boolean =
    Files.isRegularFile(p.resolve("HEAD")) && Files.isDirectory(p.resolve("objects"))

  private def remoteUrl(dir: File): String = {
    val raw = Try(
      Process(Seq("git", "config", "--get", "remote.origin.url"), dir).!!.trim
    ).toOption.filter(_.nonEmpty).getOrElse(NoRemoteUrl)
    raw.replace("git@github.com:", "https://github.com/")
  }

  /** `git log` arguments of the walk.
    *
    * `-z` NUL-separates commits and NUL-terminates every numstat path
    * (renames arrive as an empty path slot followed by two standalone
    * old/new path tokens — no " => " munging to disambiguate); `%x00`
    * makes every header field its own NUL token. core.quotePath=false
    * (set by [[GitProcess]]) keeps non-ASCII paths raw.
    */
  private val logArgs: Seq[String] = Seq(
    "-z", "--no-merges", "--date-order", "--numstat",
    "--find-renames=100%", "--find-copies=100%",
    "--pretty=format:%x01%H%x00%P%x00%an%x00%ae%x00%ct%x00%s")

  /** Cheap repo validation: confirms the path is a git repository with
    * a resolvable HEAD without reading any history. Right(head hash) —
    * the `rev-parse` that validates is also the one that reads the
    * head — or Left(reason).
    */
  def validateRepo(path: Path): Either[String, String] =
    // .git may be a directory or a file (worktree/submodule checkouts)
    if (!(Files.exists(path.resolve(".git")) || isBareRepo(path)))
      Left(s"not a git repository: $path")
    else
      Try(Process(Seq("git", "rev-parse", "--verify", "HEAD"), path.toFile).!!.trim).toOption
        .filter(_.nonEmpty).toRight(s"cannot resolve HEAD in $path")

  /** Is `old` an ancestor of `head`? False on a force-pushed/rewritten
    * history AND on an unknown object (gc'd old head). */
  private def isAncestor(path: Path, old: String, head: String): Boolean =
    Try(Process(Seq("git", "merge-base", "--is-ancestor", old, head),
      path.toFile).!(ProcessLogger(_ => (), _ => ()))).toOption.contains(0)

  /** Validate + extract one repository as a lazy event stream — the
    * whole per-repo subprocess budget (rev-parse validation, remote-url
    * lookup, git log) runs HERE, inside the executor task, so the
    * driver's prep per repo is O(1) (a directory listing entry) even on
    * a 100k-repo work-list. Executor memory per repo is O(one commit):
    * the `git log -z` byte stream is parsed token by token (the
    * reference holds the whole history in a Vec, repository.rs:114,185
    * — SURVEY.md §4's OOM risk).
    *
    * `since` is the head a previous run recorded (the incremental ETL,
    * [[GitEtlIncr]]; the reference re-runs full history every time,
    * analyzer.rs:301):
    *
    *  - None                              → mode "full": whole history;
    *  - the current head                  → mode "noop": zero commits,
    *    no `git log`;
    *  - an ancestor of the current head   → mode "since": exactly
    *    `old..head` — cost proportional to NEW commits;
    *  - anything else (force push, gc'd)  → mode "rewind": whole history
    *    again; the append's anti-join against the committed keys
    *    re-covers the repo, never doubles it.
    *
    * One task walks one repo with one `git log`, so it counts what it
    * emits: the "repo" event comes LAST, built once the walk has ended
    * (`Iterator.++` takes its tail lazily), and carries the head (the
    * next run's frontier), the mode taken, and the repo's `commits` and
    * `files` — the run report's per-repo numbers, with no pass over
    * the commits.
    */
  def extractRepo(path: Path, since: Option[String] = None): Iterator[ExtractEvent] = {
    val name = path.getFileName.toString
    validateRepo(path) match {
      case Left(err) => Iterator.single(ExtractEvent("error", name, path.toString, null, err, null))
      case Right(head) =>
        val url = remoteUrl(path.toFile)
        val mode = since match {
          case None                                     => "full"
          case Some(old) if old == head                 => "noop"
          case Some(old) if isAncestor(path, old, head) => "since"
          case Some(_)                                  => "rewind"
        }
        val rev = if (mode == "since") s"${since.get}..$head" else head
        var commits = 0L
        var files = 0L
        val walk = if (mode == "noop") Iterator.empty else streamLog(path, name, url, rev)
        walk.map { c =>
          commits += 1; files += c.changed_files.size
          ExtractEvent("commit", name, path.toString, url, null, c)
        } ++ Iterator.single(
          ExtractEvent("repo", name, path.toString, url, null, null, head, mode, commits, files))
    }
  }

  /** One git subprocess in `dir`. Stderr is drained concurrently (a
    * chatty git would otherwise block on a full pipe) into a bounded
    * tail, so a failure names its cause, not just its exit code.
    */
  private final class GitProcess(dir: Path, sub: String, args: Seq[String]) {
    private val proc = new java.lang.ProcessBuilder(
      (Seq("git", "-c", "diff.ignoreSubmodules=all", "-c", "core.quotePath=false", sub) ++
        args): _*).directory(dir.toFile).start()
    proc.getOutputStream.close() // git reads no stdin
    private val tail = new StringBuilder
    private val drainer = new Thread(() => {
      val r = new BufferedReader(new InputStreamReader(proc.getErrorStream, UTF_8))
      try {
        var line = r.readLine()
        while (line != null) {
          tail.synchronized { if (tail.length < 4096) tail.append(line).append('\n') }
          line = r.readLine()
        }
      } catch { case _: IOException => () } // stream closed under us
    }, s"git-$sub-stderr-${dir.getFileName}")
    drainer.setDaemon(true)
    drainer.start()

    def stdout: InputStream = proc.getInputStream

    /** Waits for the exit and throws on a nonzero status. */
    def check(): Unit = {
      val code = proc.waitFor()
      if (code != 0) {
        drainer.join(1000)
        throw new RuntimeException(
          s"git $sub exited with $code in $dir: ${tail.synchronized(tail.toString).trim}")
      }
    }
  }

  /** `git log` over `rev`. A nonzero exit becomes a LOUD exception at
    * end of stream (raised from the consuming task) instead of silently
    * truncating the repo's commits while the report lists it as analyzed.
    */
  private def streamLog(path: Path, name: String, url: String, rev: String): Iterator[CommitRow] = {
    val log = new GitProcess(path, "log", logArgs ++ Seq(rev, "--"))
    parseTokens(nulTokens(new BufferedInputStream(log.stdout), onEof = () => log.check()),
      name, path.toString, url)
  }

  /** Lazy NUL-token reader over a raw byte stream. Tokens are UTF-8
    * decoded per token (paths/metadata may contain any byte but NUL).
    * `onEof` runs once when the stream ends — the exit-status hook.
    */
  private[etl] def nulTokens(in: InputStream, onEof: () => Unit = () => ()): Iterator[String] =
    new Iterator[String] {
      private val buf = new ByteArrayOutputStream(256)
      private var pending: String = null
      private var done = false

      private def advance(): Unit = {
        while (pending == null && !done) {
          val b = in.read()
          if (b < 0) {
            done = true
            if (buf.size() > 0) pending = take()
            onEof()
          } else if (b == 0) pending = take()
          else buf.write(b)
        }
      }
      private def take(): String = {
        val s = new String(buf.toByteArray, UTF_8); buf.reset(); s
      }
      override def hasNext: Boolean = { advance(); pending != null }
      override def next(): String = {
        advance()
        if (pending == null) throw new NoSuchElementException
        val t = pending; pending = null; t
      }
    }

  /** Incremental parser over the NUL-token stream of
    * `git log -z --numstat --pretty=format:%x01%H%x00...%x00%s`.
    *
    * Stream grammar (established against git 2.x output, see the
    * fixture tests):
    * {{{
    * commit   := \x01 H \0 P \0 an \0 ae \0 ct \0 summary rest
    * rest     := ""                      (no diff)
    *           | "\n" entry (\0 entry)*  (numstat entries)
    * entry    := ins \t del \t path      (plain; path may contain \t)
    *           | ins \t del \t \0 old \0 new   (rename/copy)
    * commits are separated by one \0 (an empty token when the previous
    * commit ended with a NUL-terminated entry).
    * }}}
    */
  private[etl] def parseTokens(
      tokens: Iterator[String], repoName: String, repoPath: String,
      url: String): Iterator[CommitRow] = new Iterator[CommitRow] {
    private var current: CommitRow = null
    private var ins = 0L
    private var del = 0L
    private var files = Vector.newBuilder[String]
    private var pending: CommitRow = null
    private var done = false

    private def finishCurrent(): CommitRow = {
      val r = current.copy(insertions = ins, deletions = del, changed_files = files.result())
      current = null; ins = 0L; del = 0L; files = Vector.newBuilder[String]
      r
    }

    // header fields are consumed positionally — control characters in
    // the name/summary fields shift nothing
    private def startCommit(hash: String): Unit = {
      val parents = tokens.next().split(' ').filter(_.nonEmpty)
      val an = tokens.next()
      val ae = tokens.next()
      val ct = tokens.next()
      // the stream can END right after %ct's NUL: a diff-less oldest
      // commit with an empty message emits no summary byte and no
      // trailing NUL (verified with --allow-empty --allow-empty-message)
      val sTok = if (tokens.hasNext) tokens.next() else "" // summary [+ "\n" + first entry chunk]
      val nl = sTok.indexOf('\n')
      val summary = if (nl >= 0) sTok.substring(0, nl) else sTok
      current = CommitRow(
        repo_name = repoName, repo_path = repoPath, repo_url = url,
        commit_hash = hash,
        parent_hash = parents.headOption.getOrElse(ZeroOid),
        author_name = if (an.isEmpty) NoAuthorName else an,
        author_email = if (ae.isEmpty) NoAuthorEmail else ae,
        commit_epoch = ct.toLong,
        message = if (summary.isEmpty) NoSummary else summary,
        insertions = 0L, deletions = 0L, changed_files = Nil)
      if (nl >= 0 && nl < sTok.length - 1) entry(sTok.substring(nl + 1))
    }

    private def entry(chunk: String): Unit = {
      val parts = chunk.split("\t", -1)
      if (parts.length >= 3) {
        ins += Try(parts(0).toLong).getOrElse(0L) // "-" for binary files
        del += Try(parts(1).toLong).getOrElse(0L)
        val path = parts.drop(2).mkString("\t") // a path may contain tabs
        if (path.isEmpty) {
          // rename/copy: empty path slot, then two standalone tokens;
          // record the NEW path (repository.rs:149-152)
          tokens.next() // old path
          files += tokens.next()
        } else files += path
      }
    }

    private def advance(): Unit = {
      while (pending == null && !done) {
        if (!tokens.hasNext) {
          done = true
          if (current != null) pending = finishCurrent()
        } else {
          val t = tokens.next()
          if (t.isEmpty) () // commit separator after a NUL-ended entry
          else if (t.charAt(0) == HeaderMark) {
            if (current != null) pending = finishCurrent()
            startCommit(t.substring(1))
          } else if (current != null) entry(t)
        }
      }
    }

    override def hasNext: Boolean = { advance(); pending != null }
    override def next(): CommitRow = {
      advance()
      if (pending == null) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
  }

}
