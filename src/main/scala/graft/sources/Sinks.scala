package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Source/sink surface (SURVEY.md §2.1 S5-S8). The reference's only
  * sink is SQLite (analyzer.rs:146-346); the distributed equivalents:
  *
  *  - parquet (primary, columnar, pushdown-capable) — plain,
  *    z-ordered, and snapshot-versioned; every parquet read goes
  *    through [[readParquet]] with the schema of one footer
  *    ([[parquetSchema]]), whoever wrote the file, so a read runs no
  *    schema-inference job;
  *  - JDBC (the literal SQLite analog) — runnable and round-trip
  *    tested against embedded Derby (the JDBC driver that ships with
  *    Spark); SQLite itself is a url/driver swap away.
  *
  * Delta Lake (named in BASELINE's "writes to Delta/JDBC" approach
  * line): NOT implemented, deliberately — `delta-spark`/`delta-core`
  * jars are not on this container's classpath (`/opt/spark/jars` has
  * no delta artifacts, checked round 9) and the build resolves no
  * external dependencies. The equivalence story: Delta is parquet
  * plus a transaction log, so every query-side capability here
  * (pushdown, pruning, partitioning) behaves identically on the
  * parquet sinks; the transactional/append contract is covered by
  * the JDBC sink (writeJdbc/writeReferenceDb) and the append-mode
  * fingerprint index. On a cluster with the jars present,
  * `writeDelta` is `df.write.format("delta")` plus the session
  * extension — no structural change to this object.
  */
object Sinks {

  /** Z-order clustered write — the lakehouse `OPTIMIZE ZORDER BY`
    * layout primitive: rows are range-repartitioned and sorted on the
    * Morton interleave of the two key columns, so each output file's
    * min/max statistics are tight in BOTH dimensions and scans with a
    * predicate on either column prune files (a linear sort gives
    * this on the leading key only). The pruning-effectiveness
    * readout over the same curve is
    * [[graft.queries.SampleOps.q_zorder]]; keys are scaled to a
    * fixed 16-bit domain by `max16a`/`max16b` (pass the column
    * maxima, or any stable upper bound — at 100 TB use the catalog
    * stats rather than a scan).
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
      max16a: Long, max16b: Long, files: Int, out: String): Unit = {
    val z = graft.queries.SampleOps.zInterleave(
      expr(s"($colA * 65535) div greatest($max16a, 1)"),
      expr(s"($colB * 65535) div greatest($max16b, 1)"))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  private def footer(spark: SparkSession, file: HPath): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** The schema of `path` (a file, or a directory's first `.parquet`
    * file) from that ONE footer, on the driver, by Spark's own
    * `readSchemaFromFooter`: Spark's row-metadata key if present, else
    * the parquet schema converted as inference does under the session
    * conf (`nanosAsLong`, `inferTimestampNTZ`, binary-as-string), all
    * nullable. A path with no `.parquet` file goes to inference, so
    * Spark raises its own error there.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = scala.util.Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      if (!st.isDirectory) Some(p)
      else fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName).headOption
    }
    file.map { f =>
      val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
      ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer(spark, f)),
        new ParquetToSparkSchemaConverter(conf)).toNullable
    }.getOrElse(spark.read.parquet(path).schema)
  }

  /** The one parquet reader: `paths` with the first one's footer
    * schema ([[parquetSchema]]), so the read runs no job. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(parquetSchema(spark, paths.head)).parquet(paths: _*)

  /** Embedded Derby — the one JDBC engine whose driver ships in
    * /opt/spark/jars; the integration-test target for the SQLite-shaped
    * sink below.
    */
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Runnable JDBC sink (S5/S7 — the reference's output contract is a
    * local SQLite file, analyzer.rs:146-346). Round-trip-tested against
    * embedded Derby; SQLite is the same call with
    * `url = jdbc:sqlite:/path/repositories.db, driver = org.sqlite.JDBC`
    * once the xerial sqlite-jdbc jar is on the classpath (not
    * resolvable offline in this container — see NOTES.md).
    */
  def writeJdbc(
      df: DataFrame, url: String, table: String,
      driver: String = DerbyDriver, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
      .format("jdbc")
      .option("url", url)
      .option("driver", driver)
      .option("dbtable", table)
      .option("batchsize", 1000)    // the reference batches one tx per repo
    // Derby's Spark dialect maps StringType to CLOB, which Derby then
    // refuses to compare — every pushed-down string filter would error.
    // Create string columns as max-width VARCHAR instead.
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(32672)")
    (if (driver == DerbyDriver && stringCols.nonEmpty)
       w.option("createTableColumnTypes", stringCols.mkString(", "))
     else w).save()
  }

  def readJdbc(
      spark: SparkSession, url: String, table: String,
      driver: String = DerbyDriver): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("driver", driver)
      .option("dbtable", table)
      .load()

  /** Materialized fingerprint index — the incremental-dedup companion
    * table a daily-ingest pipeline maintains: one 32-hex-char md5 per
    * DISTINCT normalized fingerprint in the corpus. At 100 TB the
    * index is a small fraction of corpus bytes (16 B of hash vs full
    * text per doc), so re-deriving it every run — what the in-DAG
    * `q_dedup_incr` does for the oracle — re-reads and re-hashes the
    * whole corpus for a batch-sized question. Write this once, append
    * each batch's admitted fingerprints (`SaveMode.Append`), and each
    * increment's cost is O(batch + index scan), never O(corpus).
    * Read it back with [[readParquet]]; the read path is
    * [[graft.queries.TextOps.dedupIncrAgainst]].
    */
  def writeFpIndex(
      corpus: DataFrame, out: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    corpus.select(graft.queries.TextOps.normalizedFp(col("text")).as("fp"))
      .filter(col("fp").isNotNull).distinct()
      .write.mode(mode).parquet(out)

  /** Persist a trained model table — the train-once side of a
    * train-once/apply-often split: a BPE merge table
    * ([[graft.queries.BpeOps.q_bpe_train]]'s step, lhs, rhs, merged,
    * cnt; encode via [[graft.queries.BpeOps.encodeWith]]), a unigram-LM
    * (piece, score) table ([[graft.queries.UnigramOps.encodeWithModel]]
    * segments without re-running EM), or a DSIR bucket model
    * ([[graft.queries.SampleOps.dsirModel]]; scored by
    * [[graft.streaming.StreamingOps.streamingDsirScore]]). A model is
    * small, so it is one parquet file; read it back with [[readParquet]].
    */
  def writeModel(model: DataFrame, out: String): Unit =
    model.coalesce(1).write.mode(SaveMode.Overwrite).parquet(out)

  /** The reference's full `.db` contract: repositories / logs /
    * changed_files written into one embedded database
    * (analyzer.rs:146-188). Tables are written single-partition because
    * single-file embedded engines (SQLite, embedded Derby) serialize
    * writers — the reference itself funnels all inserts through one
    * connection; server-backed JDBC targets should call writeJdbc per
    * table with the natural partitioning instead.
    */
  def writeReferenceDb(
      tables: Map[String, DataFrame], url: String,
      driver: String = DerbyDriver): Unit =
    Seq("repositories", "logs", "changed_files").foreach { t =>
      writeJdbc(tables(t).coalesce(1), url, t, driver)
    }

  // ---- snapshot-versioned table (the transaction-log pattern) ----
  //
  // The structural core of Delta's _delta_log (see the Delta note in
  // the object scaladoc), built from the two primitives every
  // filesystem gives us: immutable data files + an atomic,
  // no-replace manifest link. Layout:
  //
  //   <dir>/data/v<N>/part-*.parquet   immutable, never rewritten
  //   <dir>/_manifests/v<N>.manifest   newline list of the version's
  //                                    data files (absolute paths)
  //
  // A write stages its parquet under data/v<N>/ first, then COMMITS
  // by hard-linking the manifest into _manifests/ (atomic, and it
  // fails rather than replace a committed version): readers resolve
  // versions from the manifest directory only, so a crashed
  // or in-flight write (data files without a manifest) is invisible —
  // snapshot isolation for a single writer, and readers never see a
  // torn version. "append" manifests carry the previous version's
  // files plus the new ones, so old versions stay readable (time
  // travel) until a retention job deletes their manifests.
  //
  // At 100 TB this is exactly the Delta/Iceberg contract that makes
  // object-store tables safe: list ONE small directory (manifests),
  // read one small file, then open only the named data files — no
  // eventually-consistent directory listing of the data itself.

  private def manifestDir(dir: String) = Paths.get(dir, "_manifests")

  /** Committed versions, ascending (empty if the table doesn't exist). */
  def snapshotVersions(dir: String): Seq[Long] = {
    val md = manifestDir(dir)
    if (!Files.isDirectory(md)) Seq.empty
    else {
      val s = Files.list(md)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
        .toSeq.sorted
      finally s.close()
    }
  }

  private def manifest(dir: String, v: Long) = manifestDir(dir).resolve(s"v$v.manifest")

  private def manifestFiles(dir: String, v: Long): Seq[String] =
    Files.readAllLines(manifest(dir, v)).asScala.toSeq.filter(_.nonEmpty)

  /** The one stage-and-commit step of both snapshot writers: stage
    * `df` under data/v<v> (restaging whatever an uncommitted earlier
    * attempt left there), then commit manifest v<v>, naming
    * `carryFrom`'s files plus the new ones. The commit point is a hard
    * link of the fully written manifest into place — atomic, and
    * unlike a rename (which on POSIX silently replaces its target) it
    * FAILS when v<v> exists, so a committed version is never replaced.
    * Returns false when v<v> was already committed.
    */
  private def stageAndCommit(df: DataFrame, dir: String, v: Long, carryFrom: Option[Long]): Boolean = {
    val dataDir = Paths.get(dir, "data", s"v$v")
    df.write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    val newFiles = {
      val s = Files.list(dataDir)
      try s.iterator().asScala
        .map(_.toAbsolutePath.toString)
        .filter(_.endsWith(".parquet"))
        .toSeq.sorted
      finally s.close()
    }
    val carried = carryFrom.map(manifestFiles(dir, _)).getOrElse(Seq.empty)
    Files.createDirectories(manifestDir(dir))
    val tmp = manifestDir(dir).resolve(s".v$v.${java.util.UUID.randomUUID}.tmp")
    try {
      Files.writeString(tmp, (carried ++ newFiles).mkString("\n"))
      Files.createLink(manifest(dir, v), tmp) // the commit point
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Write `df` as the next version of the snapshot table at `dir`;
    * returns the committed version. `overwrite = false` appends: the
    * new manifest names the previous version's files too. Throws if
    * another writer committed that version first.
    */
  def writeSnapshot(df: DataFrame, dir: String,
                    overwrite: Boolean = true): Long = {
    val last = snapshotVersions(dir).lastOption
    val next = last.getOrElse(0L) + 1L
    if (!stageAndCommit(df, dir, next, if (overwrite) None else last))
      throw new IllegalStateException(s"snapshot version $next at $dir was committed by another writer")
    next
  }

  /** Idempotent per-batch commit for Structured Streaming
    * `foreachBatch` — the Delta txn-id pattern that upgrades
    * at-least-once batch replay to EXACTLY-ONCE file output: the
    * snapshot version is pinned to `batchId + 1`, so a batch replayed
    * after a crash-restart finds its manifest already committed and
    * becomes a no-op (returns false) instead of double-appending; so
    * does a commit that loses a race for its version. Batches append:
    * version N's manifest carries version N−1's files.
    *
    * Wire-up: `ds.writeStream.foreachBatch((df, id) =>
    * Sinks.writeSnapshotBatch(df, dir, id)): Unit` — tested in
    * StreamingSpec with an explicit replay.
    */
  def writeSnapshotBatch(df: DataFrame, dir: String, batchId: Long): Boolean = {
    val v = batchId + 1L
    val committed = snapshotVersions(dir)
    !committed.contains(v) && // replayed batch: no-op
      stageAndCommit(df, dir, v, Some(v - 1).filter(committed.contains))
  }

  /** The rows version `v` itself wrote — its own data files, without
    * the ones an append carried over — summed from their parquet
    * footers on the driver: no Spark job.
    */
  def snapshotRowsAdded(spark: SparkSession, dir: String, v: Long): Long = {
    val own = Paths.get(dir, "data", s"v$v").toAbsolutePath.toString + java.io.File.separator
    manifestFiles(dir, v).filter(_.startsWith(own))
      .map(f => footer(spark, new HPath(f)).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** Read a committed version (default: latest) — time travel is
    * `readSnapshot(spark, dir, v)` for any version whose manifest
    * survives. Only manifest-named files are opened; uncommitted
    * data directories are never visible. The schema is the first
    * named file's footer ([[readParquet]]), so the read runs no job.
    */
  def readSnapshot(spark: SparkSession, dir: String,
                   version: Long = -1L): DataFrame = {
    val versions = snapshotVersions(dir)
    require(versions.nonEmpty, s"no committed snapshot versions at $dir")
    val v = if (version < 0) versions.last else version
    require(versions.contains(v),
      s"version $v not committed at $dir (have ${versions.mkString(",")})")
    readParquet(spark, manifestFiles(dir, v): _*)
  }
}
