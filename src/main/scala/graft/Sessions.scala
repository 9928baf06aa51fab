package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every main (Bench,
  * Verify, etl.Main, tools.PlanAudit) and the shared test session build
  * theirs here, so a conf axis set for one surface is set for all.
  */
object Sessions {

  /** `local[cores]` with shuffle partitions = cores, UTC session time
    * zone (timestamp-literal filters must not shift with the machine's
    * zone), no UI and WARN logs. `extraConf` is applied over those
    * defaults, and `SPARK_GRAFT_CONF="k=v;k=v"` over both — e.g.
    * `spark.sql.adaptive.enabled=false` for an AQE-off sweep, or
    * `spark.graft.hashFamily=xxh64` to A/B the dedup hash families.
    */
  def local(cores: Int, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val envConf = sys.env.get("SPARK_GRAFT_CONF").map(parseConf).getOrElse(Nil)
    (extraConf ++ envConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parses `"k=v;k=v"`; empty entries are skipped, and an entry with
    * no `=` fails loudly rather than being dropped.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }
}
