package graft

import org.scalatest.funsuite.AnyFunSuite

/** The size-gated allpairs-vs-prefix route of q_sim_sparse (r15 —
  * verdict r14 item 4, the knnExactLimit precedent): below
  * `spark.graft.sparseExactLimit` the bounded term self-join runs;
  * above it candidates come from the Bayardo prefix filter feeding
  * the identical exact-scoring tail. Pins route identity around the
  * gate and the generator's two algorithm properties (threshold
  * recall, real pruning) directly on the factored kernel.
  */
class SparseGateSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq

  test("auto below the gate equals forced allpairs; above the gate (limit 0) equals forced prefix") {
    val auto = rows(graft.queries.SimilarityOps.q_sim_sparse(spark, sf))
    // a limit above any slice forces allpairs, limit 0 forces prefix
    val allpairs = withConf("spark.graft.sparseExactLimit" -> Long.MaxValue.toString) {
      rows(graft.queries.SimilarityOps.q_sim_sparse(spark, sf))
    }
    assert(auto.nonEmpty && auto == allpairs, "auto-below-gate must BE the allpairs route")
    val gated = withConf("spark.graft.sparseExactLimit" -> "0") {
      rows(graft.queries.SimilarityOps.q_sim_sparse(spark, sf))
    }
    // every top-50 cosine sits far above tau=0.5 on this corpus
    // (measured 50th-best ≈ 0.82-0.84 at every sf), so the
    // threshold-complete prefix route returns the IDENTICAL top-N
    assert(auto == gated,
      "routes must agree row-for-row while the top-N sits above tau")
  }

  test("prefix candidates: complete at the threshold, and actually pruning") {
    // drive the factored generator on the same slice the key builds
    import graft.Tables.documents
    val d = sf
    val nDf = documents(spark, d).agg(count(lit(1)).as("n_docs"))
    val tf = documents(spark, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wfp = tf.join(dfT, "term").crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("term"),
        round(round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6) * 1e6)
          .cast("long").as("w"))
      .filter(col("doc_id") < 100)
      .localCheckpoint()
    val norms = wfp.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
      .localCheckpoint()
    val tau = 0.5
    val cand = graft.queries.SimilarityOps
      .sparseCandidates(wfp, dfT, norms, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth over the slice
    val w = wfp.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = w.groupBy(_._1).map { case (id, ts) =>
      id -> ts.map(t => t._2 -> t._3).toMap }
    val docs = byDoc.keys.toSeq.sorted
    val truth = (for {
      i <- docs.indices; j <- (i + 1) until docs.length
      a = byDoc(docs(i)); b = byDoc(docs(j))
      dot = a.keySet.intersect(b.keySet).toSeq.map(t => a(t) * b(t)).sum
      na = math.sqrt(a.values.map(v => (v * v).toDouble).sum)
      nb = math.sqrt(b.values.map(v => (v * v).toDouble).sum)
      if dot / (na * nb) >= tau
    } yield (docs(i), docs(j))).toSet
    assert(truth.nonEmpty, "fixture corpus must contain pairs above tau")
    val missed = truth -- cand
    assert(missed.isEmpty, s"prefix filter lost qualifying pairs: $missed")
    // NOTE deliberately no pruning assertion here: this corpus's tiny
    // shared vocabulary (~31 words) makes every posting list
    // O(corpus), so NO sound prefix filter can prune it — the planted
    // heavy-tailed fixture below pins the pruning property
  }

  test("prefix candidates prune a heavy-tailed vocabulary and keep every planted near-dup") {
    import spark.implicits._
    // 20 docs with doc-unique vocabularies; docs (2i, 2i+1) share 7 of
    // 8 terms (the planted near-dups); everyone shares one stop term
    // whose idf weight is tiny — the Bayardo regime, where prefixes
    // are rare-term-heavy and the pair space barely intersects
    val docs = (0 until 20).flatMap { i =>
      val base = (0 until 8).map(j => s"u${i / 2 * 2}_$j") // pair-shared stem
      val terms =
        if (i % 2 == 0) base
        else base.take(7) :+ s"only_$i" // 7/8 overlap with partner
      (terms :+ "the").map(t => (i.toLong, t))
    }
    val tf = docs.toDF("doc_id", "term").groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wfp = tf.join(dfT, "term")
      .select(col("doc_id"), col("term"),
        round(round(col("tf") * log(lit(21.0) / (col("df") + 1.0)), 6) * 1e6)
          .cast("long").as("w"))
      .localCheckpoint()
    val norms = wfp.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
      .localCheckpoint()
    val cand = graft.queries.SimilarityOps
      .sparseCandidates(wfp, dfT, norms, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (2L * i, 2L * i + 1)).toSet
    assert((planted -- cand).isEmpty,
      s"planted near-dups lost: ${planted -- cand}")
    val fullPairs = 20L * 19 / 2
    assert(cand.size < fullPairs / 2,
      s"prefix filter must prune the disjoint-vocabulary pair space " +
        s"(candidates=${cand.size}, full=$fullPairs)")
  }
}
