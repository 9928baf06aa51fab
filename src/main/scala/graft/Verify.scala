package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry key's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. Keys run, and
  * oracle_sql.json lists them, in SparkEntry.keys' sorted order. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated list of query keys to dump
    // (local iteration only — the driver always passes two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Environment forensics (round-7 lesson: the driver regenerated
    // testdata mid-build and silently changed events.ts' physical
    // type). One stderr line makes every Verify log self-document the
    // era it ran against, so a future drift is visible in the
    // driver's own artifacts rather than reconstructed from mtimes.
    try {
      // nanosAsLong first, so the probe itself reads cleanly in the
      // TIMESTAMP(NANOS) era instead of throwing PARQUET_TYPE_ILLEGAL
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val mtime = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      System.err.println(
        s"[verify] env: events.ts physical=${raw.schema("ts").dataType.simpleString} " +
          s"mtime=$mtime dir=$sfDir")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] env probe failed: ${e.getMessage}")
    }
    SparkEntry.keys
      .filter(k => only.forall(_.contains(k.name)))
      .foreach { case SparkEntry.Key(name, run, _) =>
      try run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        spark.catalog.clearCache() // queries may persist() internals
        // let the ContextCleaner reclaim checkpoint/broadcast/shuffle
        // state promptly — 88 queries in one session otherwise
        // accumulate debris that slows the tail (see Bench.scala)
        System.gc()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.keys
      .map(k => s"${q(k.name)}: ${q(k.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
