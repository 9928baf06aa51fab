package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.etl.{EtlConfig, GitAnalytics, GitEtl, GitEtlIncr, GitLogSource}
import graft.plans.SharedState
import graft.sources.Sinks

/** JVM side of the benchmark: sets up a session, runs one workload's
  * timed passes (as many as fill `--seconds` at the workload's nominal
  * pass length) through the program's public entry points, checks what
  * they wrote, and leaves a result file for `perfbench/run.py` to turn
  * into metrics.
  *
  * Arguments, as `--name value` pairs: workload, seconds, trace (0/1),
  * cores, seed, work (scratch dir), input (corpus or table dir),
  * warmup (small corpus, ETL workloads), keys (query_mix), result.
  *
  * Timing hygiene: every timed query ends in `foreach(noop)`, never
  * `count()`; keys run in sorted order; a full GC runs between
  * operations, outside the timed regions, in every mode; every pass
  * is reported, with no retries and no best-of-N.
  */
object Harness {

  /** A timed operation of a pass. Kind "query" (a query-shaped
    * operation) or "load" (the full load, with the commits it loaded
    * as `items`, or a refresh). */
  final case class Op(pass: Int, name: String, kind: String, seconds: Double, ok: Boolean,
                      items: Long = 0)

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val heapMb = mutable.ArrayBuffer.empty[Double] // post-GC samples of timed passes
  private val passCounters = mutable.ArrayBuffer.empty[Seq[Double]] // counters() deltas per timed pass
  private var timing = false
  private val failures = mutable.ArrayBuffer.empty[String]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var sharedBuilds = 0L
  private var sharedBuildS = 0.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    // set-up is repeated and its median reported: the first session in
    // a JVM also pays class loading, the later ones do not
    for (_ <- 0 until 5) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a("work"), a("cores").toInt)
      warmUp(spark, workload, a)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(spark.sparkContext, a("trace") == "1")
    val w: Workload =
      if (workload == "query_mix") new QueryMix(spark, tracer, a) else new Etl(spark, tracer, a)
    System.err.println(f"[perfbench] set-up done: ${setups.mkString(" ")}")
    val (_, verifyS) = timeS(w.verifyPass())
    System.err.println(f"[perfbench] verification pass: $verifyS%.1fs")
    gc()
    jitSettle()
    // a whole number of passes that fills --seconds at the workload's
    // nominal pass length: the same work in every run of the workload,
    // however fast the host is at the moment
    val passes = math.max(1, math.round(a("seconds").toDouble / w.nominalPassS).toInt)
    timing = true
    for (p <- 1 to passes) {
      val ps = System.nanoTime()
      val c0 = counters()
      tracer.begin(p)
      w.timedPass(p)
      tracer.end()
      passCounters += counters().zip(c0).map { case (b, a) => b - a }
      gc()
      System.err.println(f"[perfbench] pass $p: ${(System.nanoTime() - ps) / 1e9}%.1fs")
    }
    timing = false
    if (tracer.enabled) {
      w.layerMetrics(new Layers(tracer))
      layers("plans.shared.builds") = sharedBuilds.toDouble / passes
      layers("plans.shared.build_s") = sharedBuildS / passes
      // the traced pass time; against the untraced runs' wall_s it
      // gives the tracing overhead
      layers("trace.wall_s") = median((1 to passes).map(i => ops.filter(_.pass == i).map(_.seconds).sum))
      for ((name, i) <- counterNames.zipWithIndex) layers(name) = median(passCounters.map(_(i)).toSeq)
    }
    writeResult(a("result"), setups.toSeq, tracer)
    spark.stop()
  }

  def session(work: String, cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** The fixed warm-up of each set-up: one small operation of the
    * workload's own kind (a control key, or extraction of a two-repo
    * corpus). */
  private def warmUp(spark: SparkSession, workload: String, a: Map[String, String]): Unit =
    if (workload == "query_mix")
      SparkEntry.queries("q_agg_hash")(spark, a("input")).foreach(_ => ())
    else {
      val events = GitEtl.dataframes(spark, Paths.get(a("warmup"), "repos"), EtlConfig(), 1)("events")
      events.foreach(_ => ())
      events.unpersist()
    }

  // ---- shared helpers ----

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Untimed full GC, and during timed passes a sample of the old
    * generation's post-GC use. */
  def gc(): Unit = {
    System.gc()
    if (timing) {
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(p => p.getName.contains("Old Gen") && p.getCollectionUsage != null)
      heapMb += old.map(_.getCollectionUsage.getUsed).getOrElse {
        val r = Runtime.getRuntime; r.totalMemory - r.freeMemory
      } / 1048576.0
    }
  }

  /** Waits (at most 3 s) until the JIT compiler has been idle for most
    * of a quarter second, so that compilations left over from the cold
    * verification pass do not compete with the timed pass. */
  def jitSettle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 3000000000L
    var last = jit.getTotalCompilationTime
    var busy = true
    while (busy && System.nanoTime() < until) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      busy = now - last > 25
      last = now
    }
  }

  val counterNames: Seq[String] = Seq("jvm.cpu_s", "jvm.jit_s", "jvm.gc_s", "jvm.classes_loaded", "host.steal_s")

  /** Running totals of: seconds of CPU used by this JVM, of JIT
    * compilation and of GC; classes loaded (Spark's generated code
    * among them); and seconds of CPU the hypervisor took from this
    * machine's vCPUs (the `steal` column of /proc/stat, in 1/100 s; 0
    * where there is none). The last moves wall time without being the
    * program's cost, so it goes to the run log, not to the metrics. */
  def counters(): Seq[Double] = {
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val stat = Paths.get("/proc/stat")
    val steal =
      if (!Files.isReadable(stat)) 0.0
      else Files.readAllLines(stat).get(0).trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
    Seq(cpu, jit, gcS, ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble, steal)
  }

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A query-shaped operation: construction, physical planning and
    * execution, each its own span. `pass` 0 (the verification pass)
    * is not recorded. */
  def queryOp(tr: Tracer, pass: Int, name: String)(build: => DataFrame): Unit = {
    attempted += 1
    val built0 = SharedState.buildTimes.size
    val t0 = System.nanoTime()
    val ok =
      try {
        tr.span(s"op:$name") {
          val df = tr.span("plans.construction")(build)
          tr.span("plans.planning")(df.queryExecution.executedPlan)
          tr.span("queries.execution")(df.foreach(_ => ()))
        }
        true
      } catch { case e: Throwable => fail(s"$name: $e"); false }
    val s = (System.nanoTime() - t0) / 1e9
    if (pass > 0) ops += Op(pass, name, "query", s, ok)
    if (tr.active) {
      val built = SharedState.buildTimes.drop(built0)
      sharedBuilds += built.size
      sharedBuildS += built.map(_._2).sum
    }
  }

  def git(repo: Path, args: String*): String = Process("git" +: args, repo.toFile).!!

  /** (parquet files, parquet bytes) under `dir`. */
  def parquetStats(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally st.close()
    }

  /** A run's spans by name; sums are divided by the traced pass count. */
  final class Layers(tr: Tracer) {
    val nPasses: Int = math.max(1, tr.spans.map(_.pass).distinct.size)
    def of(name: String): Seq[Span] = tr.spans.filter(_.name == name).toSeq
    def underOps(name: String): Seq[Span] = {
      val ids = tr.spans.filter(_.name.startsWith("op:")).map(_.id).toSet
      tr.spans.filter(s => s.name == name && ids.contains(s.parent)).toSeq
    }
    def secs(ss: Seq[Span]): Double = ss.map(_.seconds).sum / nPasses
    def perPass(ss: Seq[Span], f: Span => Long): Double = ss.map(f).sum.toDouble / nPasses
    def ratio(x: Double, y: Double): Double = if (y > 0) x / y else 0.0

    /** plans.* and queries.* over every query-shaped operation. */
    def queryLayers(cores: Int): Unit = {
      val cons = underOps("plans.construction")
      val exec = underOps("queries.execution")
      layers("plans.construction_s") = secs(cons)
      layers("plans.construction.jobs") = perPass(cons, _.jobs)
      layers("plans.planning_s") = secs(underOps("plans.planning"))
      val execS = secs(exec)
      val taskS = perPass(exec, _.taskMs) / 1000
      layers("queries.execution_s") = execS
      layers("queries.tasks") = perPass(exec, _.tasks)
      layers("queries.task_s") = taskS
      layers("queries.busy_ratio") = ratio(taskS, execS * cores)
      layers("queries.tasks_per_job") = ratio(exec.map(_.tasks).sum.toDouble, exec.map(_.jobs).sum.toDouble)
      layers("queries.shuffle_read_bytes") = perPass(exec, _.shuffleRead)
      layers("queries.shuffle_write_bytes") = perPass(exec, _.shuffleWrite)
      layers("queries.spill_bytes") = perPass(exec, _.spill)
    }
  }

  /** Every per-layer metric the benchmark declares. A workload that
    * does not run a layer reports that layer's work as zero. */
  val layerNames: Seq[String] = Seq(
    "etl.scan_s", "etl.extract_s", "etl.extract.task_s", "etl.extract.busy_ratio",
    "etl.extract.skew", "etl.git_s", "etl.parse_s", "etl.normalize_s", "etl.report_s",
    "etl.report.jobs", "sources.parquet_write_s", "sources.parquet_files",
    "sources.parquet_bytes", "sources.out_bytes_per_commit", "sources.jdbc_write_s",
    "sources.jdbc_rows_per_s", "etl.incr.refresh_s", "etl.incr.jobs", "etl.incr.tasks",
    "etl.incr.task_s", "etl.incr.extract_ratio", "etl.incr.tasks_per_commit",
    "sources.snapshot_read_s", "sources.snapshot_files", "sources.snapshot_versions",
    "sources.snapshot_bytes_per_commit",
    "plans.construction_s", "plans.construction.jobs", "plans.planning_s",
    "queries.execution_s", "queries.tasks", "queries.task_s", "queries.busy_ratio",
    "queries.tasks_per_job", "queries.shuffle_read_bytes", "queries.shuffle_write_bytes",
    "queries.spill_bytes", "plans.shared.builds", "plans.shared.build_s",
    "trace.wall_s") ++ counterNames.filter(_.startsWith("jvm."))

  private def writeResult(path: String, setups: Seq[Double], tr: Tracer): Unit = {
    val spansFile = path.stripSuffix(".json") + ".spans.jsonl"
    if (tr.enabled) Files.write(Paths.get(spansFile), tr.toJsonLines.toSeq.asJava)
    val json = Json.obj(
      "setup_s" -> setups,
      "ops" -> ops.map(o => Json.obj("pass" -> o.pass, "name" -> o.name, "kind" -> o.kind,
        "s" -> o.seconds, "ok" -> o.ok, "items" -> o.items)),
      "heap_mb" -> heapMb,
      "pass_counters" -> passCounters.map(c => counterNames.zip(c).toMap),
      "attempted" -> attempted,
      "failures" -> failures,
      "layers" -> (if (tr.enabled) layerNames.map(n => n -> layers.getOrElse(n, 0.0)).toMap
                   else Map.empty),
      "spans_file" -> (if (tr.enabled) spansFile else null))
    Files.writeString(Paths.get(path), json.s)
  }

  // ---- workloads ----

  abstract class Workload(val spark: SparkSession, val tr: Tracer, val a: Map[String, String]) {
    val cores: Int = a("cores").toInt
    /** Roughly how long a timed pass takes on a quiet 4-vCPU host. */
    def nominalPassS: Double = 15.0
    /** Untimed pass whose outputs are checked; doubles as JIT warm-up. */
    def verifyPass(): Unit
    def timedPass(p: Int): Unit
    def layerMetrics(l: Layers): Unit
  }

  /** The git ETL: a full load with analytics, then an incremental
    * refresh with snapshot scans, in every pass. */
  final class Etl(spark: SparkSession, tr: Tracer, a: Map[String, String])
      extends Workload(spark, tr, a) {
    private val full = new EtlFull(spark, tr, a)
    private val refresh = new EtlRefresh(spark, tr, a)
    def verifyPass(): Unit = { full.verifyPass(); refresh.verifyPass() }
    def timedPass(p: Int): Unit = { full.timedPass(p); refresh.timedPass(p) }
    def layerMetrics(l: Layers): Unit = {
      full.layerMetrics(l)
      refresh.layerMetrics(l)
      l.queryLayers(cores)
    }
  }

  /** Full ETL into fresh outputs (parquet and a Derby reference DB),
    * then the git analytics over the parquet tables. */
  final class EtlFull(spark: SparkSession, tr: Tracer, a: Map[String, String])
      extends Workload(spark, tr, a) {
    /** A corpus, its config and, per repo name, its non-merge commits
      * and changed files as git lists them. */
    final class Corpus(dir: String) {
      val root: Path = Paths.get(dir, "repos")
      val config: EtlConfig = EtlConfig.load(Paths.get(dir, "config.toml"))
      val expected: Map[String, (Long, Long)] =
        Files.readAllLines(Paths.get(dir, "expected.tsv")).asScala.map(_.split("\t"))
          .map(f => f(0) -> (f(1).toLong, f(2).toLong)).toMap
    }
    private val main = new Corpus(a("input"))
    private val warm = new Corpus(a("warmup"))
    private val analytics: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "top_files" -> ((s, d) => GitAnalytics.topFilesPerRepo(s, d)),
      "author_activity" -> (GitAnalytics.authorActivity _),
      "cumulative_churn" -> (GitAnalytics.cumulativeChurn _),
      "commit_cadence" -> (GitAnalytics.commitCadence _),
      "co_changed_files" -> ((s, d) => GitAnalytics.coChangedFiles(s, d)),
      "search_commits" -> ((s, d) => GitAnalytics.searchCommits(s, d, "change 1[0-9]:")))
    private val traced = mutable.ArrayBuffer.empty[(GitEtl.EtlReport, (Long, Long))]

    private def out(p: Int) = s"${a("work")}/etl_full/p$p"

    /** scan -> extraction -> parquet -> report -> Derby; returns the
      * report and the seconds it took without the traced-only probe. */
    private def load(c: Corpus, p: Int): (GitEtl.EtlReport, Double) = {
      val dir = out(p)
      var probeS = 0.0
      val (rep, s) = timeS {
        attempted += 1
        val tables = tr.span("etl.scan")(GitEtl.dataframes(spark, c.root, c.config, maxDepth = 1))
        tr.span("etl.extract")(tables("events").foreach(_ => ()))
        if (tr.active) probeS = timeS(tr.span("probe:etl.normalize") {
          tables("logs").foreach(_ => ()); tables("changed_files").foreach(_ => ())
        })._2
        tr.span("sources.parquet_write")(GitEtl.write(tables, dir))
        val rep = tr.span("etl.report")(GitEtl.report(tables))
        tr.span("sources.jdbc_write")(Sinks.writeReferenceDb(tables, s"jdbc:derby:$dir/db;create=true"))
        tables("events").unpersist()
        rep
      }
      (rep, s - probeS)
    }

    private def checkOutputs(c: Corpus, rep: GitEtl.EtlReport, p: Int): Unit = {
      val want = c.expected.map { case (k, v) => k -> v._1 }
      check(rep.commitsPerRepo.toMap == want, s"pass $p: logs per repo ${rep.commitsPerRepo}, git $want")
      val files = c.expected.values.map(_._2).sum
      check(rep.nChangedFiles == files, s"pass $p: ${rep.nChangedFiles} changed_files rows, git $files")
      check(rep.ignored == Seq("vendored"), s"pass $p: ignored ${rep.ignored}")
      check(rep.failed.keySet.map(k => Paths.get(k).getFileName.toString) == Set("not-a-repo"),
        s"pass $p: failed ${rep.failed}")
      for ((t, n) <- Seq("logs" -> rep.nLogs, "changed_files" -> rep.nChangedFiles)) {
        val got = Sinks.readJdbc(spark, s"jdbc:derby:${out(p)}/db", t).count()
        check(got == n, s"pass $p: Derby $t has $got rows, parquet $n")
      }
    }

    /** The whole pass over the small warm-up corpus: every code path
      * runs once before timing, at little cost. */
    def verifyPass(): Unit = {
      val (rep, _) = load(warm, 0)
      checkOutputs(warm, rep, 0)
      analytics.foreach { case (k, f) => queryOp(tr, 0, k)(f(spark, out(0))) }
    }

    def timedPass(p: Int): Unit = {
      gc()
      val (rep, loadS) = load(main, p)
      ops += Op(p, "full_load", "load", loadS, ok = true, items = rep.nLogs)
      for ((k, f) <- analytics) {
        gc()
        queryOp(tr, p, k)(f(spark, out(p)))
      }
      checkOutputs(main, rep, p)
      if (tr.active) {
        traced += rep -> parquetStats(Paths.get(out(p)))
        gitProbes()
      }
    }

    /** Sequential drains of `git log` alone (the extractor's command)
      * and of the program's per-repo extractor; the difference is the
      * parse cost. */
    private def gitProbes(): Unit = {
      val repos = GitLogSource.scanDirectories(main.root, 1, main.config.ignoredRepositories)._1
        .filter(p => Files.exists(p.resolve(".git")))
      val cmd = Seq("git", "-c", "diff.ignoreSubmodules=all", "-c", "core.quotePath=false", "log",
        "-z", "--no-merges", "--date-order", "--numstat", "--find-renames=100%",
        "--find-copies=100%", "--pretty=format:%x01%H%x00%P%x00%an%x00%ae%x00%ct%x00%s")
      tr.span("probe:etl.git")(repos.foreach { r =>
        val pr = new java.lang.ProcessBuilder(cmd: _*).directory(r.toFile).start()
        val in = pr.getInputStream
        val buf = new Array[Byte](1 << 16)
        while (in.read(buf) >= 0) ()
        pr.waitFor()
      })
      tr.span("probe:etl.extract_repo")(repos.foreach(r => GitLogSource.extractRepo(r).foreach(_ => ())))
    }

    def layerMetrics(l: Layers): Unit = {
      val extract = l.of("etl.extract")
      val extractS = l.secs(extract)
      val taskS = l.perPass(extract, _.taskMs) / 1000
      layers("etl.scan_s") = l.secs(l.of("etl.scan"))
      layers("etl.extract_s") = extractS
      layers("etl.extract.task_s") = taskS
      layers("etl.extract.busy_ratio") = l.ratio(taskS, extractS * cores)
      layers("etl.extract.skew") = median(extract.map { s =>
        val d = s.taskDurMs.sorted
        l.ratio(d.last.toDouble, d(d.size / 2).toDouble)
      })
      val gitS = l.secs(l.of("probe:etl.git"))
      layers("etl.git_s") = gitS
      layers("etl.parse_s") = l.secs(l.of("probe:etl.extract_repo")) - gitS
      layers("etl.normalize_s") = l.secs(l.of("probe:etl.normalize"))
      layers("etl.report_s") = l.secs(l.of("etl.report"))
      layers("etl.report.jobs") = l.perPass(l.of("etl.report"), _.jobs)
      layers("sources.parquet_write_s") = l.secs(l.of("sources.parquet_write"))
      val n = traced.size.toDouble
      val bytes = traced.map(_._2._2).sum / n
      layers("sources.parquet_files") = traced.map(_._2._1).sum / n
      layers("sources.parquet_bytes") = bytes
      layers("sources.out_bytes_per_commit") = bytes / (traced.map(_._1.nLogs).sum / n)
      val jdbcS = l.secs(l.of("sources.jdbc_write"))
      layers("sources.jdbc_write_s") = jdbcS
      val rows = traced.map { case (r, _) => r.commitsPerRepo.size + r.nLogs + r.nChangedFiles }.sum / n
      layers("sources.jdbc_rows_per_s") = l.ratio(rows, jdbcS)
    }
  }

  /** Incremental refreshes of one table set, over a corpus that
    * changes before each, each followed by a full scan of the snapshot
    * tables. */
  final class EtlRefresh(spark: SparkSession, tr: Tracer, a: Map[String, String])
      extends Workload(spark, tr, a) {
    private val live = Paths.get(a("work"), "refresh_corpus")
    private val config = EtlConfig.load(Paths.get(a("refresh"), "config.toml"))
    private val reports = mutable.ArrayBuffer.empty[GitEtlIncr.IncrReport]
    private val snapshots = mutable.ArrayBuffer.empty[(Double, Double, Double)]

    private val dir = s"${a("work")}/etl_refresh"
    private var round = 0

    private def mutate(): Unit = {
      round += 1
      Seq("python3", "perfbench/corpus.py", "mutate", live.toString, a("seed"), round.toString).!!
    }

    /** The snapshot logs hold every reachable non-merge commit of
      * every repo exactly once. */
    private def checkSnapshot(where: String): Unit = {
      val state = Sinks.readSnapshot(spark, s"$dir/state").select("repo_id", "path").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      val rows = Sinks.readSnapshot(spark, s"$dir/logs").select("repository_id", "commit_hash")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val have = rows.toSet
      check(have.size == rows.length, s"$where: ${rows.length - have.size} duplicate commits in logs")
      val missing = state.map { case (id, path) =>
        git(Paths.get(path), "rev-list", "--no-merges", "HEAD").linesIterator
          .count(h => h.nonEmpty && !have.contains(id -> h))
      }.sum
      check(missing == 0, s"$where: $missing reachable commits missing from logs")
    }

    private def refresh(): GitEtlIncr.IncrReport = {
      attempted += 1
      val rep = GitEtlIncr.run(spark, live.resolve("repos"), dir, config)
      check(rep.failed.keySet.map(k => Paths.get(k).getFileName.toString) == Set("not-a-repo"),
        s"refresh failed repos ${rep.failed}")
      rep
    }

    /** The initial load of a copy of the refresh corpus and one
      * refresh of it; the timed passes refresh the same tables on. */
    def verifyPass(): Unit = {
      Seq("cp", "-a", a("refresh"), live.toString).!!
      refresh()
      checkSnapshot("initial load")
      mutate()
      refresh()
      checkSnapshot("verification refresh")
    }

    def timedPass(p: Int): Unit = {
      mutate()
      gc()
      val (rep, refreshS) = timeS(tr.span("etl.incr")(refresh()))
      ops += Op(p, "refresh", "load", refreshS, ok = true, items = rep.batchLogs)
      if (tr.active) reports += rep
      for (t <- Seq("logs", "changed_files")) {
        gc()
        tr.span("sources.snapshot_read") {
          queryOp(tr, p, s"read_$t")(Sinks.readSnapshot(spark, s"$dir/$t"))
        }
      }
      checkSnapshot(s"refresh round $round")
      if (tr.active) {
        val tables = Seq("logs", "changed_files")
        val files = tables.map { t =>
          val v = Sinks.snapshotVersions(s"$dir/$t").last
          Files.readAllLines(Paths.get(dir, t, "_manifests", s"v$v.manifest")).asScala.count(_.nonEmpty)
        }.sum
        val bytes = tables.map(t => parquetStats(Paths.get(dir, t))._2).sum
        val commits = Sinks.readSnapshot(spark, s"$dir/logs").count()
        snapshots += ((files.toDouble, Sinks.snapshotVersions(s"$dir/logs").size.toDouble,
          bytes.toDouble / commits))
      }
    }

    def layerMetrics(l: Layers): Unit = {
      val incr = l.of("etl.incr")
      val n = math.max(1, incr.size).toDouble
      layers("etl.incr.refresh_s") = incr.map(_.seconds).sum / n
      layers("etl.incr.jobs") = incr.map(_.jobs).sum / n
      layers("etl.incr.tasks") = incr.map(_.tasks).sum / n
      layers("etl.incr.task_s") = incr.map(_.taskMs).sum / n / 1000
      layers("etl.incr.extract_ratio") =
        reports.map(r => l.ratio(r.modes.count(_._2 != "noop"), r.modes.size)).sum / reports.size
      layers("etl.incr.tasks_per_commit") = l.ratio(incr.map(_.tasks).sum.toDouble, reports.map(_.batchLogs).sum.toDouble)
      val reads = l.of("sources.snapshot_read")
      layers("sources.snapshot_read_s") = reads.map(_.seconds).sum / math.max(1, reads.size)
      layers("sources.snapshot_files") = snapshots.map(_._1).sum / snapshots.size
      layers("sources.snapshot_versions") = snapshots.map(_._2).sum / snapshots.size
      layers("sources.snapshot_bytes_per_commit") = snapshots.map(_._3).sum / snapshots.size
    }
  }

  /** A fixed list of registry keys in sorted order; every pass starts
    * without shared artifacts or cached tables. */
  final class QueryMix(spark: SparkSession, tr: Tracer, a: Map[String, String])
      extends Workload(spark, tr, a) {
    private val data = a("input")
    private val registry = SparkEntry.queries
    private val keys = a("keys").split(",").toSeq.sorted

    private def resetShared(): Unit = { SharedState.reset(); spark.catalog.clearCache() }

    override def nominalPassS: Double = 8.0

    /** Writes every key's result for the DuckDB oracle check. */
    def verifyPass(): Unit = {
      val out = s"${a("work")}/verify"
      resetShared()
      keys.foreach { k =>
        attempted += 1
        try registry(k)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
        catch { case e: Throwable => fail(s"$k: $e") }
        spark.catalog.clearCache()
        gc()
      }
      Files.writeString(Paths.get(out, "oracle_sql.json"),
        Json.value(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }))
    }

    def timedPass(p: Int): Unit = {
      resetShared()
      keys.foreach { k =>
        gc()
        queryOp(tr, p, k)(registry(k)(spark, data))
        spark.catalog.clearCache()
      }
    }

    def layerMetrics(l: Layers): Unit = l.queryLayers(cores)
  }
}
