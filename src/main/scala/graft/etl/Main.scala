package graft.etl

import java.nio.file.Paths

/** CLI entry point mirroring the reference's interface (main.rs:5,
  * analyzer.rs:32-62): a user of `git-log-to-sqlite <root> --database
  * repositories.db --config config.toml --num-threads 8` runs
  *
  *   runMain graft.etl.Main <root> --out /path/tables \
  *     [--config config.toml] [--max-depth 1] [--recursive] \
  *     [--num-threads N] ([--clear] | --incremental)
  *
  * and gets the same three tables as parquet (SQLite → parquet is the
  * one interface change; the JDBC writer shape in graft.sources.Sinks
  * covers the literal .db target where a driver is available). The
  * report output mirrors main.rs:7-26: elapsed seconds, analyzed
  * repositories, skipped directories.
  */
object Main {

  /** A parsed command line. `maxDepth = None` is 1, or no bound with
    * `recursive`; `threads = None` is `SPARK_GRAFT_CPUS`, else 8. */
  final case class Args(
      root: String, out: String = "git-tables", config: Option[String] = None,
      maxDepth: Option[Int] = None, recursive: Boolean = false,
      threads: Option[Int] = None, incremental: Boolean = false, clear: Boolean = false) {
    // --recursive without an explicit --max-depth means "no bound",
    // like the reference; with one, --max-depth caps the recursion
    def depth: Int = maxDepth.getOrElse(if (recursive) Int.MaxValue else 1)
  }

  val Usage =
    "usage: graft.etl.Main <root> --out <dir> [--config <toml>] " +
      "[--max-depth N] [--recursive] [--num-threads N] ([--clear] | --incremental)\n" +
      "       (--database is accepted as an alias for --out, matching the reference CLI;\n" +
      "        --incremental appends only new commits since the last run's recorded\n" +
      "        heads to snapshot-versioned tables under --out)"

  /** Parses the command line: the root directory first, then flags. */
  def parseArgs(args: Seq[String]): Either[String, Args] = {
    def positive(flag: String, v: String)(set: Int => Args): Either[String, Args] =
      v.toIntOption.filter(_ > 0).map(set).toRight(s"$flag needs a positive integer, got '$v'")
    def flags(rest: List[String], a: Args): Either[String, Args] = rest match {
      case Nil =>
        // the incremental run appends to versioned tables: --clear has
        // no meaning there
        if (a.incremental && a.clear) Left("--incremental takes no --clear") else Right(a)
      // --database is the reference's flag name (analyzer.rs:32-62):
      // same meaning, the target is a table directory here
      case ("--out" | "--database") :: v :: tail => flags(tail, a.copy(out = v))
      case "--config" :: v :: tail => flags(tail, a.copy(config = Some(v)))
      case "--max-depth" :: v :: tail =>
        positive("--max-depth", v)(n => a.copy(maxDepth = Some(n))).flatMap(flags(tail, _))
      case "--num-threads" :: v :: tail =>
        positive("--num-threads", v)(n => a.copy(threads = Some(n))).flatMap(flags(tail, _))
      case "--recursive" :: tail => flags(tail, a.copy(recursive = true))
      case "--incremental" :: tail => flags(tail, a.copy(incremental = true))
      case "--clear" :: tail => flags(tail, a.copy(clear = true)) // parquet overwrite is implicit
      case flag :: Nil if Set("--out", "--database", "--config", "--max-depth", "--num-threads")(flag) =>
        Left(s"$flag requires a value")
      case other :: _ => Left(s"unknown argument '$other'")
    }
    args.toList match {
      case root :: tail if !root.startsWith("--") => flags(tail, Args(root))
      case _ => Left("the root directory comes first")
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(s"$err\n$Usage")
        sys.exit(2)
    }
    val root = Paths.get(a.root)
    val out = a.out
    val maxDepth = a.depth
    val threads = a.threads.getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    val spark = graft.Sessions.local(threads, "spark.app.name" -> "graft-git-etl")

    // analyzer.rs:53-54, 137-144 parity: explicit --config fails loudly
    // when missing; no --config picks up ./config.toml if present
    val config = EtlConfig.resolve(a.config.map(Paths.get(_)))
    val t0 = System.nanoTime()

    if (a.incremental) {
      // since-snapshot mode: only new commits extract; tables are the
      // snapshot-versioned manifest-log layout (GitEtlIncr scaladoc)
      val rep = GitEtlIncr.run(spark, root, out, config, maxDepth)
      val secs = (System.nanoTime() - t0) / 1e9
      val byMode = rep.modes.groupBy(_._2).view.mapValues(_.size).toMap
      println(f"# Done in $secs%.1f seconds (incremental -> logs version ${rep.logsVersion})")
      println("# Repos by mode: " + Seq("full", "since", "noop", "rewind")
        .flatMap(m => byMode.get(m).map(n => s"$m=$n")).mkString(", "))
      if (rep.failed.nonEmpty)
        println(s"# Skipped (${rep.failed.size}): ${rep.failed.keys.toSeq.sorted.mkString(", ")}")
      println(s"# batch: ${rep.batchLogs} log rows, ${rep.batchFiles} changed-file rows -> $out")
      spark.stop()
      return
    }

    // Live progress during the long pole (the reference's per-repo
    // bars, analyzer.rs:282): one Spark task = one repo, and
    // `dataframes` runs the extraction as ONE single-stage job, so that
    // job's task-end stream IS per-repo completion. Per-repo commit
    // counts still print post-hoc — task completion order is not repo
    // order, and a faithful ticker reports progress, not sequence.
    val done = new java.util.concurrent.atomic.AtomicInteger
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val progress = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        // scope to OUR job (job group set below) so a concurrently
        // running job can't be misattributed
        if (e.properties != null &&
            "graft-extract" == e.properties.getProperty("spark.jobGroup.id"))
          e.stageInfos.foreach(si => stageTasks.put(si.stageId, si.numTasks))
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        // successful ends only: failed/speculative attempts would
        // overshoot the k/n display and print the newline early
        val n = stageTasks.getOrDefault(e.stageId, 0)
        if (n == 0 || e.taskInfo == null || !e.taskInfo.successful) return
        val k = done.incrementAndGet()
        if (k <= n) {
          System.err.print(s"\r# extracting: $k/$n repo tasks")
          if (k == n) System.err.println()
        }
      }
    }
    spark.sparkContext.addSparkListener(progress)
    spark.sparkContext.setJobGroup("graft-extract", "git extraction progress")
    val tables =
      try GitEtl.dataframes(spark, root, config, maxDepth)
      finally spark.sparkContext.clearJobGroup()
    GitEtl.write(tables, out)
    val report = GitEtl.report(tables)
    // removed only now: task-end events reach listeners asynchronously,
    // after the job itself has returned
    spark.sparkContext.removeSparkListener(progress)
    tables("events").unpersist()
    val secs = (System.nanoTime() - t0) / 1e9

    // Report format mirrors the reference (main.rs:7-26), plus per-repo
    // commit counts (the reference's per-repo progress lines,
    // analyzer.rs:282, rendered post-hoc — Spark tasks complete out of
    // order, so a faithful live ticker would interleave misleadingly).
    println(f"# Done in $secs%.1f seconds")
    println(s"# Analyzed repositories (${report.analyzed.size}): ${report.analyzed.mkString(", ")}")
    report.commitsPerRepo.foreach { case (name, n) => println(s"#   $name: $n commits") }
    if (report.ignored.nonEmpty)
      println(s"# Ignored (${report.ignored.size}): ${report.ignored.mkString(", ")}")
    if (report.failed.nonEmpty)
      println(s"# Skipped (${report.failed.size}): ${report.failed.keys.toSeq.sorted.mkString(", ")}")
    println(s"# logs: ${report.nLogs} rows, changed_files: ${report.nChangedFiles} rows -> $out")
    spark.stop()
  }
}
