package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{BpeOps, ClusterOps, DedupOps, EmbedOps, GraphOps, KMeansOps, Multimodal, RankOps, Relational, SampleOps, SimilarityOps, SketchOps, TextOps, TimeSeries, UnigramOps, Windows}

/** The query registry: every key's Spark function and the DuckDB
  * oracle SQL its result is checked against, over the same parquet
  * tables. Each key is one [[SparkEntry.Key]] record, registered in the
  * `keys` of the `graft.queries` object whose function it calls.
  */
object SparkEntry {

  /** One query key: its Spark function and its DuckDB-dialect oracle
    * SQL, whose column names and types match the Spark output
    * (counts/epochs as BIGINT, doubles rounded identically).
    */
  final case class Key(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q_agg_hash(spark, "/root/testdata/sf0.001")

  /** Every family's keys, sorted by name; a name registered twice fails here. */
  val keys: Seq[Key] = {
    val all = Seq(BpeOps.keys, ClusterOps.keys, DedupOps.keys, EmbedOps.keys,
      GraphOps.keys, KMeansOps.keys, Multimodal.keys, RankOps.keys,
      Relational.keys, SampleOps.keys, SimilarityOps.keys, SketchOps.keys,
      TextOps.keys, TimeSeries.keys, UnigramOps.keys, Windows.keys).flatten
    val dups = all.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(dups.isEmpty, s"query keys registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    all.sortBy(_.name)
  }

  /** Each key's Spark function, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.map(k => k.name -> k.run).toMap

  /** Each key's DuckDB oracle SQL, by name. */
  val oracleSql: Map[String, String] = keys.map(k => k.name -> k.oracle).toMap
}
