package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimTextSpec extends AnyFunSuite {
  import TestSpark._
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("cosine_sim expression matches hand computation and is symmetric") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)), // orthogonal
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)), // identical
      (Array(1.0f, 1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)), // 45 degrees
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))  // zero vector
    ).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)").as("c"), expr("cosine_sim(b, a)").as("cr"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(math.abs(got(0)._1 - 0.0) < 1e-12)
    assert(math.abs(got(1)._1 - 1.0) < 1e-12)
    assert(math.abs(got(2)._1 - math.sqrt(0.5)) < 1e-12)
    assert(got(3)._1 == 0.0) // zero-norm convention
    got.foreach { case (c, cr) => assert(c == cr) }
  }

  test("cosine_sim returns NULL (not a prefix result) on dimension mismatch") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val rows = df.select(expr("cosine_sim(a, b)"), expr("dot_product(a, b)")).collect()
    assert(rows.head.isNullAt(0) && rows.head.isNullAt(1))
  }

  test("function builders reject wrong arity with a clear message") {
    graft.functions.VectorFunctions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))").collect())
    assert(e.getMessage.contains("2 arguments"), e.getMessage)
  }

  test("dot_product expression matches hand computation") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.5f, -2.0f, 4.0f), Array(2.0f, 3.0f, 0.5f))).toDF("a", "b")
    val got = df.select(expr("dot_product(a, b)")).collect().head.getDouble(0)
    assert(math.abs(got - (1.5 * 2.0 + -2.0 * 3.0 + 4.0 * 0.5)) < 1e-12)
  }

  test("q_sim_topk: 5 neighbors per query, rank contiguous, cosine non-increasing") {
    val rows = q("q_sim_topk").collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val cs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
    }
  }

  test("q_sim_topk top-1 agrees with brute force over collected vectors") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = q("q_sim_topk").filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    top1.foreach { case (qid, nid) =>
      val best = vecs.keys.filter(_ != qid)
        .maxBy(k => (BigDecimal(cos(vecs(qid), vecs(k))).setScale(6, BigDecimal.RoundingMode.HALF_UP), -k))
      assert(nid == best, s"query $qid: got $nid expected $best")
    }
  }

  test("q_hard_negatives: cross-label only, and the constraint binds vs unconstrained top-k") {
    val rows = q("q_hard_negatives").collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    rows.foreach { r =>
      assert(r.getAs[Int]("neighbor_label") != r.getAs[Int]("query_label"),
        s"same-label pair leaked: $r")
    }
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val cs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
    }
    // non-degeneracy: at least one query's unconstrained top-5 contains a
    // same-label neighbor (else the label filter verifies nothing)
    val unconstrained = q("q_sim_topk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val constrained = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(unconstrained != constrained,
      "label constraint never binds on this corpus - hard negatives degenerate to top-k")
  }

  test("sq_l2 expression matches hand computation; NULL on dimension mismatch") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.5f, -2.0f, 4.0f), Array(2.0f, 3.0f, 0.5f))).toDF("a", "b")
    val got = df.select(expr("sq_l2(a, b)")).collect().head.getDouble(0)
    val want = math.pow(1.5 - 2.0, 2) + math.pow(-2.0 - 3.0, 2) + math.pow(4.0 - 0.5, 2)
    assert(math.abs(got - want) < 1e-12)
    val mm = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(mm.select(expr("sq_l2(a, b)")).collect().head.isNullAt(0))
  }

  test("q_sim_pq equals a driver-side PQ reference implementation exactly") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
      .filter(_._2.length == 64).sortBy(_._1)
    val m = queries.SimilarityOps.PqM
    val k = queries.SimilarityOps.PqK
    val sub = queries.SimilarityOps.PqDims / m
    val cents = vecs.filter(_._1 < k).map(_._2)
    // the same fixed-point subspace distance as the query/oracle:
    // i-ascending double fold, then HALF_UP rounding at 1e-6
    def dfp(v: Array[Float], c: Array[Float], off: Int): Long = {
      var acc = 0.0; var i = 0
      while (i < sub) { val d = v(off + i).toDouble - c(off + i).toDouble; acc += d * d; i += 1 }
      BigDecimal(acc * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def codesOf(v: Array[Float]): Array[Int] =
      (0 until m).map(mi => (0 until k).minBy(ki => (dfp(v, cents(ki), mi * sub), ki))).toArray
    val got = q("q_sim_pq").collect().groupBy(_.getAs[Long]("query_id"))
    assert(got.size == 10)
    vecs.filter(_._1 < 10).foreach { case (qid, qv) =>
      val tab = Array.tabulate(m, k)((mi, ki) => dfp(qv, cents(ki), mi * sub))
      val expected = vecs.filter(_._1 != qid).map { case (nid, nv) =>
        val cs = codesOf(nv)
        (nid, (0 until m).map(mi => tab(mi)(cs(mi))).sum)
      }.sortBy { case (nid, adc) => (adc, nid) }.take(5)
      val rows = got(qid).sortBy(_.getAs[Long]("rank"))
      assert(rows.map(_.getAs[Long]("neighbor_id")).toSeq == expected.map(_._1).toSeq,
        s"query $qid neighbor order diverged")
      rows.zip(expected).foreach { case (r, (_, adc)) =>
        val want = BigDecimal(adc / 1e6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("approx_dist") == want)
      }
    }
  }

  test("q_sim_ivfpq equals a driver-side IVF-PQ reference implementation exactly") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
      .filter(_._2.length == 64).sortBy(_._1)
    val kc = queries.SimilarityOps.IvfPqCoarse
    val nprobe = queries.SimilarityOps.IvfPqProbe
    val m = queries.SimilarityOps.PqM
    val k = queries.SimilarityOps.PqK
    val sub = queries.SimilarityOps.PqDims / m
    val coarse = vecs.filter(_._1 < kc).map(_._2)
    def fp(acc: Double): Long =
      BigDecimal(acc * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def dfpFull(v: Array[Float], c: Array[Float]): Long = {
      var acc = 0.0; var i = 0
      while (i < 64) { val d = v(i).toDouble - c(i).toDouble; acc += d * d; i += 1 }
      fp(acc)
    }
    def cellOf(v: Array[Float]): Int = (0 until kc).minBy(ci => (dfpFull(v, coarse(ci)), ci))
    def resWrt(v: Array[Float], ci: Int): Array[Double] =
      Array.tabulate(64)(i => v(i).toDouble - coarse(ci)(i).toDouble)
    val cbR = vecs.filter(_._1 < k).map(t => resWrt(t._2, cellOf(t._2)))
    def dfpSub(r: Array[Double], b: Array[Double], off: Int): Long = {
      var acc = 0.0; var i = 0
      while (i < sub) { val d = r(off + i) - b(off + i); acc += d * d; i += 1 }
      fp(acc)
    }
    def codesOf(r: Array[Double]): Array[Int] =
      (0 until m).map(mi => cbR.indices.minBy(ki => (dfpSub(r, cbR(ki), mi * sub), ki))).toArray
    val got = q("q_sim_ivfpq").collect().groupBy(_.getAs[Long]("query_id"))
    assert(got.size == 10)
    vecs.filter(_._1 < 10).foreach { case (qid, qv) =>
      val probed = (0 until kc).sortBy(ci => (dfpFull(qv, coarse(ci)), ci)).take(nprobe)
      val tabs = probed.map { ci =>
        val r = resWrt(qv, ci)
        ci -> Array.tabulate(m, cbR.length)((mi, ki) => dfpSub(r, cbR(ki), mi * sub))
      }.toMap
      val expected = vecs.filter(_._1 != qid)
        .flatMap { case (nid, nv) =>
          val cell = cellOf(nv)
          tabs.get(cell).map { tab =>
            val cs = codesOf(resWrt(nv, cell))
            (nid, (0 until m).map(mi => tab(mi)(cs(mi))).sum)
          }
        }.sortBy { case (nid, adc) => (adc, nid) }.take(5)
      val rows = got(qid).sortBy(_.getAs[Long]("rank"))
      assert(rows.map(_.getAs[Long]("neighbor_id")).toSeq == expected.map(_._1).toSeq,
        s"query $qid neighbor order diverged")
      rows.zip(expected).foreach { case (r, (_, adc)) =>
        val want = BigDecimal(adc / 1e6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("approx_dist") == want)
      }
    }
  }

  test("q_dedup_savings: monotone sweep that reconciles with the confirmed pair table") {
    val rows = SparkEntry.queries("q_dedup_savings")(spark, sf).collect()
      .sortBy(_.getAs[Long]("thr_mille"))
    assert(rows.map(_.getAs[Long]("thr_mille")).toSeq ==
      Seq(900L, 925L, 950L, 975L, 990L))
    // tightening the threshold never adds pairs, docs, or tokens
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_pairs") >= hi.getAs[Long]("n_pairs"))
      assert(lo.getAs[Long]("n_docs") >= hi.getAs[Long]("n_docs"))
      assert(lo.getAs[Long]("n_tokens") >= hi.getAs[Long]("n_tokens"))
    }
    // reconciliation: the 0.900 row counts exactly the confirmed pairs
    // at jaccard >= 0.9, and their distinct members
    val pairs = SparkEntry.queries("q_dedup_minhash")(spark, sf).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.9)
    assert(rows.head.getAs[Long]("n_pairs") == pairs.length.toLong)
    val members = pairs.flatMap(r =>
      Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(rows.head.getAs[Long]("n_docs") == members.size.toLong)
    // the sweep is informative on this corpus: not all rows equal
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length > 1)
  }

  test("q_pq_error equals the driver-side per-subspace min-distance distortion exactly") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
      .filter(_._2.length == 64).sortBy(_._1)
    val m = queries.SimilarityOps.PqM
    val k = queries.SimilarityOps.PqK
    val sub = queries.SimilarityOps.PqDims / m
    val cents = vecs.filter(_._1 < k).map(_._2)
    def dfp(v: Array[Float], c: Array[Float], off: Int): Long = {
      var acc = 0.0; var i = 0
      while (i < sub) { val d = v(off + i).toDouble - c(off + i).toDouble; acc += d * d; i += 1 }
      BigDecimal(acc * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val want = (0 until m).map { mi =>
      val errs = vecs.map { case (_, v) =>
        (0 until k).map(ki => dfp(v, cents(ki), mi * sub)).min
      }
      (mi.toLong, vecs.length.toLong, errs.sum)
    }
    val got = q("q_pq_error").collect()
    assert(got.length == m)
    got.zip(want).foreach { case (r, (mi, n, s)) =>
      assert(r.getAs[Long]("subspace") == mi)
      assert(r.getAs[Long]("n_vecs") == n, s"subspace $mi n")
      assert(r.getAs[Long]("sum_err_fp") == s, s"subspace $mi sum")
      assert(r.getAs[Long]("mean_err_fp") == s / n, s"subspace $mi mean")
    }
    // codebook members quantize to themselves: total distortion must be
    // strictly below a codebook-free baseline (all-zeros reference)
    assert(want.map(_._3).sum > 0L, "distortion zero would mean a degenerate corpus")
  }

  test("q_sim_pq: identical vectors quantize identically (ADC distance 0 to a duplicate query)") {
    // quantization cannot split identical inputs: a corpus vector equal
    // to the query byte-for-byte must surface at rank 1 with distance 0
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 2).toFloat)
    val other = Array.tabulate(64)(i => (math.cos(i * 3 + 2) * 2).toFloat)
    val rows = (0L until 20L).map { id =>
      (id, if (id == 7L) base else if (id < 10L) other.map(v => v + id * 0.01f) else base.map(v => v + (id - 9L) * 0.5f))
    } :+ ((20L, base)) // vec 20 duplicates query 7
    val tmp = java.nio.file.Files.createTempDirectory("pq").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = queries.SimilarityOps.q_sim_pq(spark, tmp).collect()
    val q7 = got.filter(r => r.getAs[Long]("query_id") == 7L && r.getAs[Long]("rank") == 1L).head
    assert(q7.getAs[Long]("neighbor_id") == 20L)
    assert(q7.getAs[Double]("approx_dist") == 0.0)
  }

  test("q_sim_lsh candidates are a subset of brute-force near-dups (id<300)") {
    val lsh = q("q_sim_lsh").collect()
      .filter(r => r.getAs[Long]("vec_a") < 300 && r.getAs[Long]("vec_b") < 300)
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val brute = q("q_dedup_embed").collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(lsh.subsetOf(brute), s"LSH found non-pairs: ${lsh -- brute}")
  }

  test("q_minhash: signatures are deterministic and near-dup docs collide more") {
    val s1 = q("q_minhash").collect()
    val s2 = q("q_minhash").collect()
    assert(s1.sameElements(s2))
    // every signature column is a 60-bit value (15 hex chars): always
    // non-negative and under 2^60
    s1.take(20).foreach { r =>
      (1 to 8).foreach { i =>
        val h = r.getAs[Long](s"h$i")
        assert(h >= 0L && h < (1L << 60))
      }
    }
  }

  test("minhash LSH recall on synthetic near-duplicates") {
    // Two near-identical docs (one word changed out of 40) must share at
    // least one band; a totally different doc must not pair with them.
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val other = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("mh").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = graft.queries.DedupOps.q_dedup_minhash(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 > 0.8))
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("q_simhash: deterministic, and near-identical docs have small hamming distance") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 59).map(i => s"tok$i") :+ "zzz").mkString(" ")
    val far  = (1 to 60).map(i => s"q$i").mkString(" ")
    val docs = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("sh").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val hs = graft.queries.DedupOps.q_simhash(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0L), hs(1L)) < hamming(hs(0L), hs(2L)),
      s"near=${hamming(hs(0L), hs(1L))} far=${hamming(hs(0L), hs(2L))}")
  }

  test("candidatePairs: degenerate buckets are dropped, small buckets pair fully") {
    import spark.implicits._
    // bucket "big" has 5 ids (over the cap of 4), "ok" has 3, "solo" 1
    val rows = (1L to 5L).map(i => ("big", i)) ++ Seq(("ok", 10L), ("ok", 11L), ("ok", 12L), ("solo", 99L))
    val pairs = graft.queries.DedupOps.candidatePairs(
      rows.toDF("bucket", "id"), "bucket", "id", "a", "b", maxBucket = 4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs == Set((10L, 11L), (10L, 12L), (11L, 12L)),
      s"got $pairs") // big-bucket pairs gone, solo produces none
  }

  test("dedup family survives degenerate texts: empty, single-word, exact duplicates") {
    import spark.implicits._
    val docs = Seq(
      (0L, ""), (1L, "solo"), (2L, "solo"),              // empty + exact dup single-word
      (3L, "a b c d e"), (4L, "a b c d e"), (5L, "")     // exact dup multi-word + empty dup
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("mh-edge").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sigs = graft.queries.DedupOps.q_minhash(spark, tmp).collect()
    assert(sigs.length == 6) // every doc signs, even the empty ones
    val pairs = graft.queries.DedupOps.q_dedup_minhash(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    // exact duplicates must surface with jaccard 1.0
    assert(pairs.contains((1L, 2L, 1.0)), s"got $pairs")
    assert(pairs.contains((3L, 4L, 1.0)), s"got $pairs")
    assert(pairs.contains((0L, 5L, 1.0)), s"got $pairs") // the two empties duplicate each other
    // the SimHash path must surface the same exact duplicates at hamming 0
    val hp = graft.queries.DedupOps.q_dedup_simhash(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming"))).toSet
    assert(hp.contains((1L, 2L, 0L)), s"got $hp")
    assert(hp.contains((3L, 4L, 0L)), s"got $hp")
    assert(hp.contains((0L, 5L, 0L)), s"got $hp")
  }

  test("q_dedup_simhash: near-identical docs pair, disjoint-vocab docs do not") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val other = (1 to 60).map(i => s"zz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("sh-pairs").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // 1 word changed out of 60: expect a small hamming distance — use a
    // loose threshold so the test pins semantics, not hash specifics
    val pairs = graft.queries.DedupOps.q_dedup_simhash(spark, tmp, maxHamming = 7)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)), s"near-dup pair missing: $pairs")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      s"disjoint-vocab doc paired: $pairs")
  }

  test("simhashesFast: xxhash64 simhash is deterministic and near-dup-sensitive like md5's") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 59).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val other = (1 to 60).map(i => s"zz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("shf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def sigs() = graft.queries.DedupOps.simhashesFast(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val a = sigs()
    assert(a == sigs()) // deterministic across runs
    a.values.foreach(v => assert(v >= 0L, "sign bit must stay clear"))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(a(0L), a(1L)) < hamming(a(0L), a(2L)),
      s"near=${hamming(a(0L), a(1L))} far=${hamming(a(0L), a(2L))}")
  }

  test("signaturesFast: xxhash64 minima are deterministic and near-dup-sensitive like md5's") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val other = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("mhf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def sigs() = graft.queries.DedupOps.signaturesFast(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> (1 to 8).map(i => r.getAs[Long](s"h$i")).toVector).toMap
    val a = sigs()
    assert(a == sigs()) // deterministic across runs
    def agree(x: Vector[Long], y: Vector[Long]) = x.zip(y).count { case (p, q) => p == q }
    assert(agree(a(0L), a(1L)) > agree(a(0L), a(2L)),
      "near-dup must share more minhash functions than an unrelated doc")
  }

  test("q_fingerprint: normalized fingerprint is word-order insensitive") {
    import spark.implicits._
    val docs = Seq((0L, "b a c"), (1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("fp").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = graft.queries.TextOps.q_fingerprint(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("fp_exact"), r.getAs[String]("fp_normalized"))).toMap
    assert(fps(0L)._1 != fps(1L)._1)      // exact differs
    assert(fps(0L)._2 == fps(1L)._2)      // normalized equal
    assert(fps(1L)._2 != fps(2L)._2)      // different content differs
  }

  test("q_tokens and q_text_quality return one row per doc with sane ranges") {
    val n = Tables.documents(spark, sf).count()
    val tok = q("q_tokens").collect()
    assert(tok.length == n)
    tok.foreach { r =>
      assert(r.getAs[Long]("n_ws_tokens") > 0)
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_ws_tokens"))
    }
    val tq = q("q_text_quality").collect()
    assert(tq.length == n)
    tq.foreach { r =>
      val sr = r.getAs[Double]("stopword_ratio")
      assert(sr >= 0.0 && sr <= 1.0)
      val qs = r.getAs[Double]("quality_score")
      assert(qs >= 0.0 && qs <= 1.0)
    }
  }

  test("q_contamination: benchmark 5-gram overlap flags, short-text fallback flags, clean stays clean") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon" // exactly one 5-gram
    val docs = Seq(
      (0L,   s"$shared zeta eta"),              // benchmark (id % 100 < 2)
      (1L,   "tiny"),                           // benchmark, short-text fallback
      (102L, s"pre $shared post"),              // corpus: shares the 5-gram
      (103L, "six seven eight nine ten eleven"),// corpus: clean
      (104L, "tiny")                            // corpus: exact short-text match
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("contam").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q_contamination")(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated"))).toMap
    assert(out.keySet == Set(102L, 103L, 104L), "output must be corpus docs only")
    assert(out(102L)._1 >= 1 && out(102L)._2, s"shared 5-gram must flag: $out")
    assert(out(103L) == ((0L, false)), s"clean doc flagged: $out")
    assert(out(104L) == ((1L, true)), s"short-text fallback must flag: $out")
  }

  test("q_repetition: duplicate word/2-gram/3-gram fractions match hand computation") {
    import spark.implicits._
    val docs = Seq((0L, "a a a b"), (1L, "x y z"), (2L, "solo")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("repet").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.TextOps.q_repetition(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("dup_word_frac"),
          r.getAs[Double]("dup_2gram_frac"), r.getAs[Double]("dup_3gram_frac"))).toMap
    // "a a a b": 4 words/2 distinct; 2-grams [a a, a a, a b]; 3-grams [a a a, a a b]
    assert(out(0L) == ((4L, 0.5, 0.3333333333, 0.0)), s"got ${out(0L)}")
    assert(out(1L) == ((3L, 0.0, 0.0, 0.0)), s"got ${out(1L)}")
    // single word: no n-grams exist, fractions define to 0
    assert(out(2L) == ((1L, 0.0, 0.0, 0.0)), s"got ${out(2L)}")
  }

  test("q_tfidf: rare terms outrank ubiquitous ones, ranks contiguous and ordered") {
    import spark.implicits._
    val docs = Seq(
      (0L, "common common common unicorn"),
      (1L, "common words here"),
      (2L, "common words there")
    ).map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.queries.TextOps.q_tfidf(spark, tmp).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val scores = sorted.map(_.getAs[Double]("tfidf"))
      assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
    // "unicorn" (df=1) must outrank "common" (df=3, idf=0) in doc 0
    val doc0 = byDoc(0L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("term"))
    assert(doc0.head == "unicorn", s"got ${doc0.toSeq}")
    // a term in every document has idf ln(4/4) = 0 -> score 0
    val common = rows.filter(_.getAs[String]("term") == "common")
    assert(common.nonEmpty && common.forall(_.getAs[Double]("tfidf") == 0.0))
  }

  test("q_dedup_incr: corpus matches blocked, batch dups collapse, new docs admitted") {
    import spark.implicits._
    val docs = Seq(
      (0L, "seen before", "src0"),        // existing corpus
      (1L, "also seen", "src0"),
      (10L, "seen before", "srcNew"),     // batch: duplicates the corpus -> blocked
      (11L, "brand new words", "srcNew"), // batch: new -> admitted
      (12L, "brand new words", "srcNew"), // batch dup of 11 -> collapsed into it
      (13L, "words new brand", "srcNew"),  // word-order variant: same normalized fp
      (14L, null.asInstanceOf[String], "srcNew"), // null docs admit INDIVIDUALLY
      (15L, null.asInstanceOf[String], "srcNew")
    ).map { case (i, t, src) =>
      (i, t, "en", src, Option(t).map(_.length.toLong).getOrElse(0L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("incr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.TextOps.q_dedup_incr(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_batch_dups")).toMap
    // 11,12,13 collapse; 10 blocked; the two null docs are unrelated
    // content and must each survive as their own row
    assert(out == Map(11L -> 3L, 14L -> 1L, 15L -> 1L), s"got $out")
  }

  test("q_dedup_bloom is bit-identical to q_dedup_incr (fixture with corpus dups, batch dups, nulls)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "seen before", "src0"),
      (1L, "also seen", "src0"),
      (10L, "seen before", "srcNew"),
      (11L, "brand new words", "srcNew"),
      (12L, "brand new words", "srcNew"),
      (13L, "words new brand", "srcNew"),
      (14L, null.asInstanceOf[String], "srcNew"),
      (15L, null.asInstanceOf[String], "srcNew")
    ).map { case (i, t, src) =>
      (i, t, "en", src, Option(t).map(_.length.toLong).getOrElse(0L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bloom-incr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    for (d <- Seq(tmp, sf)) {
      val exact = graft.queries.TextOps.q_dedup_incr(spark, d).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"), r.getAs[Long]("n_batch_dups"))).toSet
      val bloom = graft.queries.TextOps.q_dedup_bloom(spark, d).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"), r.getAs[Long]("n_batch_dups"))).toSet
      assert(bloom == exact,
        s"dir=$d only-bloom=${bloom -- exact} only-exact=${exact -- bloom}")
    }
  }

  test("bloom_agg/bloom_contains: every inserted key probes true; novel keys mostly prune") {
    import spark.implicits._
    graft.functions.BloomFunctions.register(spark)
    val inserted = (0L until 1000L).map(i => s"key-$i")
    val bloom = inserted.toDF("k")
      .agg(org.apache.spark.sql.functions.call_function("bloom_agg",
        org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("k")),
        org.apache.spark.sql.functions.lit(10000L),
        org.apache.spark.sql.functions.lit(131072L)))
      .head().getAs[Array[Byte]](0)
    import org.apache.spark.sql.functions.{call_function, col, lit, xxhash64}
    def contains(df: org.apache.spark.sql.DataFrame) =
      df.filter(call_function("bloom_contains", lit(bloom), xxhash64(col("k")))).count()
    // no false negatives — the property q_dedup_bloom's exactness rests on
    assert(contains(inserted.toDF("k")) == 1000L)
    // novel keys overwhelmingly prefilter out (131072 bits / 1000 keys
    // => fpp well under 1%; allow slack, but pruning must be real)
    val novel = (0L until 1000L).map(i => s"other-$i").toDF("k")
    assert(contains(novel) < 50L, "bloom prunes nothing — prefilter is dead weight")
  }

  test("simhashPairs fullRecall path equals the first-matching-band path when no bucket overflows") {
    import graft.queries.{DedupOps, HashFamily}
    def pairs(fullRecall: Boolean) =
      DedupOps.simhashPairs(spark, sf, 1, HashFamily.Md5, fullRecall = fullRecall)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
        .toSet
    val first = pairs(fullRecall = false)
    val full  = pairs(fullRecall = true)
    assert(first == full,
      s"paths diverge without an overflowed bucket: only-first=${first -- full}, only-full=${full -- first}")
  }

  test("q_winnow: shared >= win+k-1 word substrings share a fingerprint; disjoint docs share none") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 words >= 4+4-1
    val docs = Seq(
      (0L, s"one two three $shared four five six"),
      (1L, s"$shared totally different tail words here"),
      (2L, "unrelated vocabulary entirely separate tokens nothing common whatsoever"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = graft.queries.DedupOps.q_winnow(spark, tmp).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(r =>
        (r.getAs[Long]("fp"), r.getAs[Long]("pos"))).toSet }
    val common01 = fps(0L).map(_._1) intersect fps(1L).map(_._1)
    assert(common01.nonEmpty, "winnowing guarantee: shared 8-word run must share a fingerprint")
    assert((fps(0L).map(_._1) intersect fps(2L).map(_._1)).isEmpty)
    assert((fps(1L).map(_._1) intersect fps(2L).map(_._1)).isEmpty)
    // localization: every shared fingerprint's position points INTO
    // the shared region of each document (grams 3..7 in doc 0 — the
    // shared run starts at word 3 and contributes 4-grams 3..7; grams
    // 0..4 in doc 1)
    common01.foreach { fp =>
      fps(0L).filter(_._1 == fp).foreach { case (_, p) => assert(p >= 3 && p <= 7, s"doc0 pos $p") }
      fps(1L).filter(_._1 == fp).foreach { case (_, p) => assert(p <= 4, s"doc1 pos $p") }
    }
    // q_overlap reports exactly the (0,1) pair, spans inside the
    // shared regions, and doc 2 in no pair
    val overlaps = graft.queries.DedupOps.q_overlap(spark, tmp).collect()
    assert(overlaps.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      == Set((0L, 1L)))
    val o = overlaps.head
    assert(o.getAs[Long]("n_shared") == common01.size)
    assert(o.getAs[Long]("a_from") >= 3 && o.getAs[Long]("a_to") <= 7)
    assert(o.getAs[Long]("b_to") <= 4)
  }

  test("q_text_clean: urls/emails stripped, lowercased, whitespace collapsed, counters fire") {
    import spark.implicits._
    val docs = Seq(
      (0L, "Visit https://example.com/x NOW or mail Bob@Example.org !!"),
      (1L, "plain text stays put")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("clean").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.TextOps.q_text_clean(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_urls"), r.getAs[Long]("n_emails"))).toMap
    assert(out(0L) == (("visit now or mail", 1L, 1L)), s"got ${out(0L)}")
    assert(out(1L) == (("plain text stays put", 0L, 0L)), s"got ${out(1L)}")
  }

  test("q_dedup_block: first-occurrence block ownership, reassembly, null/empty edges") {
    import spark.implicits._
    // 25-word base doc -> blocks [w1..w20], [w21..w25] at blockWords=20
    val base = (1 to 25).map(i => s"w$i").mkString(" ")
    val head20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val freshTail = "x1 x2 x3 x4 x5"
    val docs = Seq[(Long, String)](
      (0L, base),                         // owns both its blocks
      (1L, base),                         // exact dup: keeps nothing
      (2L, s"$head20 $freshTail"),        // shares block 0, owns its tail
      (3L, null),                         // null passthrough
      (4L, ""))                           // one empty block, first owner
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("blockdedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.DedupOps.q_dedup_block(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_text")))).toMap
    assert(out(0L) == ((2L, 2L, base)), s"got ${out(0L)}")
    assert(out(1L) == ((2L, 0L, "")), s"fully-dup doc keeps empty text: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, freshTail)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, null)), s"null doc passes through: ${out(3L)}")
    assert(out(4L) == ((1L, 1L, "")), s"empty doc owns its empty block: ${out(4L)}")
    // block accounting: kept blocks across the corpus = distinct blocks
    val totalKept = out.values.map(_._2).sum
    assert(totalKept == 4L, s"2 base blocks + fresh tail + empty block, got $totalKept")
  }

  test("q_dedup_substr: first-occurrence span ownership and interval merge (k=8)") {
    import spark.implicits._
    val a = (1 to 20).map(i => s"a$i")
    val docs = Seq[(Long, String)](
      (0L, a.mkString(" ")),                       // owns every a-gram
      (1L, a.mkString(" ")),                       // exact dup: one full-width span
      (2L, ("y1 y2" +: a.slice(4, 14)).mkString(" ") + " y3 y4 y5"), // 10-token copied run inside fresh text
      (3L, (a.take(8) ++ Seq("z1", "z2", "z3") ++ a.drop(12)).mkString(" ")), // two DISJOINT copied spans
      (4L, null),                                  // null passthrough: zeros
      (5L, "short words only"),                    // < k tokens: no grams
      (6L, ((1 to 8).map(i => s"b$i") ++ (1 to 8).map(i => s"b$i")).mkString(" "))) // INTERNAL repetition
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("substrdedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.DedupOps.q_dedup_substr(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("dup_share_fp")))).toMap
    assert(out(0L) == ((20L, 0L, 0L, 20L, 0L)), s"owner untouched: ${out(0L)}")
    // 13 overlapping dup 8-grams chain into ONE [1,20] span
    assert(out(1L) == ((20L, 20L, 1L, 0L, 1000000L)), s"exact dup: ${out(1L)}")
    // copied run a5..a14 sits at positions 3..12: dup grams start at
    // 3,4,5 and merge to the single 10-token span
    assert(out(2L) == ((15L, 10L, 1L, 5L, 666667L)), s"embedded run: ${out(2L)}")
    // a1..a8 at [1,8] and a13..a20 at [12,19]: two spans, no bridge
    // across the fresh z-gap
    assert(out(3L) == ((19L, 16L, 2L, 3L, 842105L)), s"disjoint spans: ${out(3L)}")
    assert(out(4L) == ((0L, 0L, 0L, 0L, 0L)), s"null doc zeros: ${out(4L)}")
    assert(out(5L) == ((3L, 0L, 0L, 3L, 0L)), s"sub-k doc untouched: ${out(5L)}")
    // the second b1..b8 inside the SAME document dedups against the
    // first (Lee et al.'s self-duplication case)
    assert(out(6L) == ((16L, 8L, 1L, 8L, 500000L)), s"internal repeat: ${out(6L)}")
  }

  test("q_boilerplate: df>=2 blocks removed from ALL docs, unlike ownership dedup") {
    import spark.implicits._
    val base = (1 to 25).map(i => s"w$i").mkString(" ")
    val head20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val tail5 = (21 to 25).map(i => s"w$i").mkString(" ")
    val freshTail = "x1 x2 x3 x4 x5"
    val docs = Seq[(Long, String)](
      (0L, base),                  // head block shared 3x, tail shared 2x
      (1L, base),                  // exact dup
      (2L, s"$head20 $freshTail"), // shares the head block, owns its tail
      (3L, null),                  // null passthrough
      (4L, "u1 u2 u3"))            // unique content survives intact
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("boiler").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.DedupOps.q_boilerplate(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_text")))).toMap
    // the head block (df=3) and base tail (df=2) are boilerplate: gone
    // EVERYWHERE — doc 0, the "first owner" q_dedup_block would have
    // rewarded, keeps nothing either
    assert(out(0L) == ((2L, 0L, "")), s"got ${out(0L)}")
    assert(out(1L) == ((2L, 0L, "")), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 1L, freshTail)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, null)), s"null doc passes through: ${out(3L)}")
    assert(out(4L) == ((1L, 1L, "u1 u2 u3")), s"unique doc intact: ${out(4L)}")
    assert(tail5.nonEmpty) // fixture shape documented above
  }

  test("q_contamination_fuzzy flags a planted cross-split duplicate and paraphrase") {
    import TestSpark.spark
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cfz").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    // doc 1 → benchmark side (1 % 100 < 2); 102 = verbatim leak,
    // 103 = near-verbatim leak (one appended word, jaccard 12/13 —
    // chosen so its md5 minhash signature deterministically shares a
    // band with the benchmark: LSH recall is per-fixture deterministic
    // under fixed hashes, and e.g. a mid-sentence word swap at jaccard
    // 0.6 verifiably does NOT collide — that near-miss is the
    // documented recall trade, not a bug),
    // 104 = unrelated, 105 = null text
    Seq(
      (1L, base, "en", "s0", base.length.toLong),
      (102L, base, "en", "s0", base.length.toLong),
      (103L, base + " again", "en", "s0", base.length.toLong),
      (104L, "completely different content about spark catalyst planning rules", "en", "s0", 64L),
      (105L, null.asInstanceOf[String], "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q_contamination_fuzzy")(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_cand"), Option(r.getAs[java.lang.Long]("best_bench_id")),
          Option(r.getAs[java.lang.Double]("best_jaccard")), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(out.keySet == Set(102L, 103L, 104L, 105L), "corpus side only")
    val (_, b102, j102, c102) = out(102L)
    assert(b102.contains(1L) && j102.contains(1.0) && c102,
      s"verbatim leak must flag at jaccard 1.0: ${out(102L)}")
    val (_, b103, j103, c103) = out(103L)
    assert(b103.contains(1L) && c103 && j103.exists(j => j > 0.5 && j < 1.0),
      s"paraphrase must flag below 1.0: ${out(103L)}")
    assert(out(104L) == ((0L, None, None, false)), "unrelated doc stays clean")
    assert(out(105L) == ((0L, None, None, false)), "null doc stays clean")
  }

  test("q_containment flags a planted quote pair with exact asymmetric scores") {
    import spark.implicits._
    // docB = docA verbatim + a 60-word tail, pre-searched (fixed md5
    // minhashes ⇒ deterministic) so LSH band 2 collides while
    // jaccard < 0.5 — the quote shape symmetric dedup misses
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val tail = "beta45 delta84 eta83 rho67 gamma37 pi44 alpha96 pi11 eta62 " +
      "iota38 upsilon74 sigma96 gamma25 epsilon60 iota98 theta74 kappa4 " +
      "tau76 delta0 mu24 epsilon84 kappa6 zeta42 mu57 pi31 lam95 mu22 " +
      "delta38 gamma92 sigma58 delta95 sigma14 zeta76 nu59 beta4 beta65 " +
      "tau12 xi82 epsilon53 tau45 gamma47 zeta46 zeta84 gamma42 alpha82 " +
      "pi38 epsilon33 delta13 theta14 epsilon63 iota68 sigma15 lam59 " +
      "theta20 tau68 beta64 iota46 eta36 nu71 eta16"
    val docs = Seq(
      (1L, base, "en", "src0", base.length.toLong),
      (2L, s"$base $tail", "en", "src0", (base.length + tail.length + 1).toLong),
      (3L, "totally unrelated words here again and again", "en", "src0", 44L))
    val tmp = java.nio.file.Files.createTempDirectory("contain").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = queries.DedupOps.q_containment(spark, tmp).collect()
    assert(got.length == 1, s"exactly the planted pair: ${got.toSeq}")
    val r = got.head
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) == ((1L, 2L)))
    // independent recompute of the set sizes
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(docs(0)._2), sh(docs(1)._2))
    val inter = (sa & sb).size.toDouble
    def r10(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("containment_a") == 1.0, "A fully contained in B")
    assert(r.getAs[Double]("containment_b") == r10(inter / sb.size))
    assert(r.getAs[Double]("jaccard") == r10(inter / (sa | sb).size))
    assert(r.getAs[Double]("jaccard") < 0.5)
    assert(r.getAs[Boolean]("quote_like"), "the quote pair must flag")
  }

  test("q_sim_sparse: identical docs hit cosine 1.0; disjoint vocab never pairs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sparse-docs").toString
    val a = "alpha beta gamma delta epsilon zeta"
    val c = "one two three four five six"        // disjoint from a
    val m = "alpha beta gamma one two three"     // overlaps both
    Seq((0L, a), (1L, a), (2L, c), (3L, m))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.queries.SimilarityOps.q_sim_sparse(spark, tmp).collect()
    val byPair = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
      r.getAs[Double]("cosine")).toMap
    // identical docs: identical weight vectors, exact 1.0
    assert(byPair((0L, 1L)) == 1.0)
    // disjoint vocabularies share no term -> the pair row cannot exist
    assert(!byPair.contains((0L, 2L)) && !byPair.contains((1L, 2L)))
    // the mixed doc pairs with both sides, strictly below 1
    assert(byPair.contains((0L, 3L)) && byPair((0L, 3L)) > 0.0 && byPair((0L, 3L)) < 1.0)
    assert(byPair.contains((2L, 3L)) && byPair((2L, 3L)) > 0.0 && byPair((2L, 3L)) < 1.0)
    // ordering: the top row is the best pair
    assert(rows.head.getAs[Double]("cosine") == rows.map(_.getAs[Double]("cosine")).max)
  }

  test("q_cdc_chunks: chunks tile each doc; boundaries survive an insertion") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = Seq.fill(200)(words(rnd.nextInt(words.length)))
    val inserted = base.take(100) ++ Seq("INS1", "INS2", "INS3", "INS4", "INS5") ++
      base.drop(100)
    Seq(
      (0L, base.mkString(" "), "en", "s0", 0L),
      (1L, inserted.mkString(" "), "en", "s0", 0L),
      (2L, "tiny doc", "en", "s0", 0L)) // < 4 tokens: one whole-doc chunk
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q_cdc_chunks")(spark, tmp).collect()
    // tiling: per doc, chunks cover [0, n-1] contiguously in chunk order
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("chunk_id"))
      assert(sorted.head.getAs[Long]("start_pos") == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("start_pos") + a.getAs[Long]("n_tokens") ==
            b.getAs[Long]("start_pos"), s"gap in doc $id")
        case _ => ()
      }
    }
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getAs[Long]("n_tokens") == 2L)
    // insertion robustness: most of doc 0's chunk fingerprints
    // reappear in doc 1 (content-anchored boundaries re-synchronize)
    val fp0 = byDoc(0L).map(_.getAs[String]("chunk_fp")).toSet
    val fp1 = byDoc(1L).map(_.getAs[String]("chunk_fp")).toSet
    val shared = fp0.intersect(fp1).size
    assert(shared * 2 >= fp0.size,
      s"only $shared of ${fp0.size} chunks survived the insertion")
    // and the shared chunks show up as df = 2 rows
    assert(rows.exists(_.getAs[Long]("df") == 2L))
  }

  test("q_cdc_savings: per-source and (all) rows reconcile with q_cdc_chunks; dup doc saves") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cdcsave").toString
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val body = Seq.fill(200)(words(rnd.nextInt(words.length))).mkString(" ")
    val other = Seq.fill(150)(words(rnd.nextInt(words.length))).mkString(" ")
    Seq(
      (0L, body, "en", "s0", 0L),
      (1L, body, "en", "s0", 0L),   // exact dup WITHIN s0
      (2L, other, "en", "s1", 0L),
      (3L, body, "en", "s1", 0L))   // s0's doc mirrored INTO s1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q_cdc_savings")(spark, tmp).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.keySet == Set("s0", "s1", "(all)"))
    // reconcile against the chunk inventory
    val chunks = SparkEntry.queries("q_cdc_chunks")(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("chunk_fp"),
        r.getAs[Long]("n_tokens")))
    val srcOf = Map(0L -> "s0", 1L -> "s0", 2L -> "s1", 3L -> "s1")
    Seq("s0", "s1").foreach { src =>
      val cs = chunks.filter(c => srcOf(c._1) == src)
      val r = rows(src)
      assert(r.getAs[Long]("n_chunks") == cs.length.toLong)
      assert(r.getAs[Long]("n_unique_chunks") == cs.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("total_tokens") == cs.map(_._3).sum)
      assert(r.getAs[Long]("unique_tokens") ==
        cs.groupBy(_._2).values.map(_.head._3).sum)
    }
    val all = rows("(all)")
    assert(all.getAs[Long]("n_chunks") == chunks.length.toLong)
    assert(all.getAs[Long]("n_unique_chunks") ==
      chunks.map(_._2).distinct.length.toLong)
    // the dup inside s0 halves its chunk storage (approximately):
    // savings strictly positive and the fixed point replays exactly
    rows.values.foreach { r =>
      val (tot, unq) = (r.getAs[Long]("total_tokens"), r.getAs[Long]("unique_tokens"))
      assert(r.getAs[Long]("savings_fp") ==
        (2 * (tot - unq) * 1000000L + tot) / (2 * tot))
    }
    assert(rows("s0").getAs[Long]("savings_fp") > 400000L) // ~half saved
    // global dedup sees the cross-source mirror: strictly more saved
    // than the per-source unions alone
    assert(all.getAs[Long]("unique_tokens") <
      rows("s0").getAs[Long]("unique_tokens") +
        rows("s1").getAs[Long]("unique_tokens"))
  }

  // Hand-check pins against independent recomputes: q_ivf_balance's
  // occupancy/cohesion report, q_select_mmr's greedy chain on the same
  // quantized grid, and q_dim_recall's monotone recall curve.
  test("q_ivf_balance equals an independent Scala recompute of the assignment report") {
    val rows = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
    val cents = rows.filter(_._1 < 16).sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // assignment: max cosine, ties to the smallest cent_id
    val perCell = rows.map { case (_, v) =>
      val scored = cents.map { case (cid, cv) => (cos(v, cv), cid) }
      val best = scored.maxBy { case (c, cid) => (c, -cid.toDouble) }
      (best._2, math.floor(best._1 * 1e6 + 0.5).toLong)
    }.groupBy(_._1).map { case (cell, xs) =>
      cell -> (xs.length.toLong, xs.map(_._2).sum)
    }
    val t = perCell.values.map(_._1).sum
    val mx = perCell.values.map(_._1).max
    val nc = perCell.size.toLong
    val got = graft.queries.SimilarityOps.q_ivf_balance(spark, sf).collect()
    assert(got.length == cents.length, "one row per codebook cell")
    got.foreach { r =>
      val cell = r.getAs[Long]("cell")
      perCell.get(cell) match {
        case Some((n, sc)) =>
          assert(r.getAs[Long]("n") == n, s"cell $cell occupancy")
          assert(r.getAs[Long]("mean_cos_fp") == (2 * sc + n) / (2 * n),
            s"cell $cell cohesion")
          assert(r.getAs[Long]("share_fp") == (2 * n * 1000000L + t) / (2 * t))
        case None =>
          assert(r.getAs[Long]("n") == 0L, s"cell $cell must report empty")
      }
      assert(r.getAs[Long]("imbalance_fp") == (2 * mx * nc * 1000000L + t) / (2 * t))
    }
  }

  test("q_select_mmr equals an independent greedy reference and diverges from relevance top-k") {
    val rows = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
    val q = rows.find(_._1 == 0L).get._2
    def cosfp(a: Array[Float], b: Array[Float]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.floor(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
    }
    val cand = rows.filter(_._1 > 0L)
    val rel = cand.map { case (id, v) => id -> cosfp(v, q) }.toMap
    val emb = cand.toMap
    val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
    val expect = (1 to 8).map { rank =>
      val best = cand.iterator.filterNot(c => sel.contains(c._1)).map { case (id, v) =>
        val ms = if (sel.isEmpty) None else Some(sel.map(s => cosfp(v, emb(s))).max)
        val score = rel(id) - ms.getOrElse(0L)
        (score, id, ms)
      }.minBy { case (score, id, _) => (-score, id) }
      sel += best._2
      (rank.toLong, best._2, rel(best._2), best._3, best._1)
    }
    val got = graft.queries.SimilarityOps.q_select_mmr(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rel_fp"),
        Option(r.getAs[java.lang.Long]("maxsim_fp")).map(_.longValue),
        r.getAs[Long]("score_fp")))
    assert(got.toSeq == expect,
      s"greedy chain diverged:\n got   ${got.toSeq}\n expect $expect")
    // the diversity term must actually move the selection
    val topRel = cand.sortBy { case (id, _) => (-rel(id), id) }.take(8).map(_._1).toSet
    assert(got.map(_._2).toSet != topRel,
      "MMR selection must differ from pure relevance top-k on this corpus")
  }

  test("q_dim_recall: monotone non-decreasing recall in m, full-dim truth bounded") {
    val rows = graft.queries.SimilarityOps.q_dim_recall(spark, sf).collect()
      .map(r => (r.getAs[Long]("m"), r.getAs[Long]("hits"),
        r.getAs[Long]("total"), r.getAs[Long]("recall_fp")))
    assert(rows.map(_._1).toSeq == Seq(8L, 16L, 32L, 48L))
    rows.foreach { case (m, hits, total, rf) =>
      assert(hits <= total, s"m=$m")
      assert(rf == (2 * hits * 1000000 + total) / (2 * total), s"m=$m")
    }
    val recalls = rows.sortBy(_._1).map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"longer prefixes must not lose recall: ${recalls.mkString(",")}")
    assert(recalls.distinct.size > 1, "curve must vary (non-degeneracy)")
  }
}
