package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the text-pipeline operators over
  * generated adversarial inputs (one Spark job per property, many
  * rows per job — not one job per sample).
  */
class TextInvariantSpec extends AnyFunSuite {
  import TestSpark._

  // deterministic mix of clean text, punctuation soup, urls/emails,
  // unicode, repeats, and whitespace runs
  private lazy val dir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("the", "a", "of", "and", "Fox!", "HTTPS://X.y/z",
      "bob@example.com", "naïve", "café", "...", "a-b", "(x)", "  ", "42",
      "http://long.example.org/path?q=1", "WORD", "word", "!!!")
    val texts = (0 until 200).map { i =>
      (0 until 1 + rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "srcX", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("textinv").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("q_lm_score matches a hand-computed unigram model on a tiny corpus") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (0L, "a a b"), (1L, "a b"), (2L, null), (3L, ""))
      .map { case (i, t) => (i, t, "en", "s", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("lm").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.TextOps.q_lm_score(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // corpus: a×3, b×2, N=5 — per-token fp = round(ln(c/N)·1e9)
    def fp(c: Long): Long = math.round(math.log(c / 5.0) * 1e9)
    def mean(fps: Seq[Long]): Double =
      BigDecimal(fps.sum.toDouble / fps.length / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L).getAs[Double]("mean_logp") == mean(Seq(fp(3), fp(3), fp(2))))
    assert(out(1L).getAs[Double]("mean_logp") == mean(Seq(fp(3), fp(2))))
    // doc 0 is richer in the frequent token — strictly better score
    assert(out(0L).getAs[Double]("mean_logp") > out(1L).getAs[Double]("mean_logp"))
    // null and empty documents: no scored tokens, NULL columns survive
    // the left join (never 0 / NaN)
    for (id <- Seq(2L, 3L); c <- Seq("n_scored_tokens", "mean_logp", "ppl_proxy"))
      assert(out(id).isNullAt(out(id).fieldIndex(c)), s"doc $id $c")
    // ppl proxy inverts the score ordering
    assert(out(0L).getAs[Double]("ppl_proxy") < out(1L).getAs[Double]("ppl_proxy"))
  }

  test("q_ccnet_split: rank replays the LM ordering; terciles cut by the position formula") {
    val rows = SparkEntry.queries("q_ccnet_split")(spark, TestSpark.sf).collect()
    val nDocs = Tables.documents(spark, TestSpark.sf).count()
    assert(rows.length == nDocs)
    val scored = rows.filter(!_.isNullAt(2))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("mean_fp"),
        r.getAs[Long]("rn"), r.getAs[String]("bucket")))
    assert(scored.nonEmpty)
    val n = scored.length.toLong
    // ranks are exactly the (mean_fp DESC, doc_id ASC) order
    val expected = scored.sortBy(t => (-t._2, t._1)).zipWithIndex
    expected.foreach { case ((id, _, rn, bucket), idx) =>
      assert(rn == idx + 1, s"doc $id rank")
      val terc = (rn - 1) * 3 / n + 1
      val expBucket = terc match {
        case 1 => "head"; case 2 => "middle"; case _ => "tail"
      }
      assert(bucket == expBucket, s"doc $id bucket")
    }
    // all three buckets are inhabited and head is at least as fluent
    // as tail on every member pair
    val byBucket = scored.groupBy(_._4)
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    val minHead = byBucket("head").map(_._2).min
    val maxTail = byBucket("tail").map(_._2).max
    assert(minHead >= maxTail)
    // unscored docs (< 2 tokens / null text) keep a row with null bucket
    rows.filter(_.isNullAt(2)).foreach(r => assert(r.isNullAt(4)))
  }

  test("q_blocklist: planted phrases flag/drop per the graduated rule; clean docs absent") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (0L, "big data and hash join here"),        // 2 hits -> drop
      (1L, "a slow query only"),                  // 1 hit  -> flag
      (2L, "perfectly clean text"),               // absent
      (3L, null),                                 // null text -> absent
      (4L, "TABLE SCAN in uppercase"),            // case-folded -> flag
      (5L, "stream batch plus table scan plus slow query")) // 3 -> drop
      .map { case (i, t) =>
        (i, t, "en", "s", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("blocklist").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.TextOps.q_blocklist(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(0L, 1L, 4L, 5L))
    assert(out(0L).getAs[String]("action") == "drop" &&
      out(0L).getAs[String]("hits") == "big data,hash join")
    assert(out(1L).getAs[String]("action") == "flag" &&
      out(1L).getAs[String]("hits") == "slow query")
    assert(out(4L).getAs[String]("action") == "flag" &&
      out(4L).getAs[String]("hits") == "table scan")
    // hits string preserves the declared (sorted) blocklist order
    assert(out(5L).getAs[String]("action") == "drop" &&
      out(5L).getAs[String]("hits") == "slow query,stream batch,table scan")
    assert(out.values.forall(r =>
      r.getAs[Long]("n_hits") == r.getAs[String]("hits").split(",").length))
  }

  test("q_distinct_n: replays from raw docs; a template source collapses distinct-2") {
    import spark.implicits._
    // full corpus replay at the suite sf
    val rows = SparkEntry.queries("q_distinct_n")(spark, TestSpark.sf).collect()
    val docs = Tables.documents(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    def gramsOf(w: Seq[String], n: Int): Seq[String] =
      if (w.length < n) Seq.empty else w.sliding(n).map(_.mkString(" ")).toSeq
    rows.foreach { r =>
      val (src, n) = (r.getAs[String]("source"), r.getAs[Long]("n").toInt)
      val gs = docs.filter(_._1 == src).flatMap(d => gramsOf(d._2, n))
      assert(r.getAs[Long]("total_ngrams") == gs.length.toLong, s"$src n=$n total")
      assert(r.getAs[Long]("distinct_ngrams") == gs.distinct.length.toLong)
      assert(r.getAs[Long]("distinct_fp") ==
        (2L * gs.distinct.length * 1000000L + gs.length) / (2L * gs.length))
    }
    // planted fixture: template text repeats verbatim, varied doesn't
    val tmp = java.nio.file.Files.createTempDirectory("distinctn").toString
    Seq(
      (0L, "the quick brown fox", "en", "tmpl", 0L),
      (1L, "the quick brown fox", "en", "tmpl", 0L),
      (2L, "the quick brown fox", "en", "tmpl", 0L),
      (3L, "alpha beta gamma delta", "en", "var", 0L),
      (4L, "epsilon zeta eta theta", "en", "var", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val f = graft.queries.TextOps.q_distinct_n(spark, tmp).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n")) -> r).toMap
    // template: 9 bigram occurrences, 3 distinct -> 1/3
    assert(f(("tmpl", 2L)).getAs[Long]("total_ngrams") == 9L)
    assert(f(("tmpl", 2L)).getAs[Long]("distinct_ngrams") == 3L)
    assert(f(("tmpl", 2L)).getAs[Long]("distinct_fp") == 333333L)
    // varied: every bigram unique -> exactly 1e6
    assert(f(("var", 2L)).getAs[Long]("distinct_fp") == 1000000L)
  }

  test("q_text_clean is idempotent: cleaning already-clean text changes nothing") {
    import spark.implicits._
    val once = graft.queries.TextOps.q_text_clean(spark, dir)
      .select(col("doc_id"), col("clean_text"))
    // round-trip the cleaned text through a second documents table
    val tmp2 = java.nio.file.Files.createTempDirectory("textinv2").toString
    once.select(col("doc_id"), col("clean_text").as("text"),
        lit("en").as("lang"), lit("s").as("source"), length(col("clean_text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val twice = graft.queries.TextOps.q_text_clean(spark, tmp2)
      .select(col("doc_id"), col("clean_text").as("clean2"))
    val diff = once.join(twice, "doc_id")
      .filter(col("clean_text") =!= col("clean2")).collect()
    assert(diff.isEmpty, s"not idempotent: ${diff.take(3).mkString("; ")}")
    // and the second pass removes zero characters
    val removed = graft.queries.TextOps.q_text_clean(spark, tmp2)
      .agg(sum(col("n_removed_chars"))).collect().head.getLong(0)
    assert(removed == 0L, s"second clean still removed $removed chars")
  }

  test("repetition fractions are bounded and consistent with distinct counts") {
    graft.queries.TextOps.q_repetition(spark, dir).collect().foreach { r =>
      Seq("dup_word_frac", "dup_2gram_frac", "dup_3gram_frac").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v < 1.0, s"doc ${r.getAs[Long]("doc_id")} $c=$v")
      }
      assert(r.getAs[Long]("n_words") >= 1)
    }
  }

  test("contamination output covers exactly the corpus slice, hits imply the flag") {
    val rows = graft.queries.DedupOps.q_contamination(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 100 >= 2, "benchmark doc leaked into output")
      assert((r.getAs[Long]("n_hits") > 0) == r.getAs[Boolean]("contaminated"))
    }
  }

  test("q_bpe equals a driver-side pair count; every pair is 2 chars") {
    val rows = SparkEntry.queries("q_bpe")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length))
    rows.foreach(r => assert(r.getAs[String]("pair").length == 2))
    // independent reference: full pair multiset over the raw corpus
    val ref = Tables.documents(spark, TestSpark.sf).collect()
      .flatMap(r => Option(r.getAs[String]("text")))
      .flatMap(_.split(" "))
      .filter(_.length > 1)
      .flatMap(w => (0 until w.length - 1).map(i => w.substring(i, i + 2)))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val top = ref.toSeq.sortBy { case (p, c) => (-c, p) }.take(rows.length)
    assert(rows.map(r => (r.getAs[String]("pair"), r.getAs[Long]("cnt"))).toSeq == top,
      "vocab-weighted pair counts must equal the raw corpus pair multiset")
  }

  test("q_entropy matches a driver-side Shannon entropy; bounds hold") {
    val rows = SparkEntry.queries("q_entropy")(spark, TestSpark.sf).collect()
    val texts = Tables.documents(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("text"))).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      texts(id) match {
        case None => assert(r.isNullAt(r.fieldIndex("char_entropy")))
        case Some(t) =>
          val n = r.getAs[Long]("n_chars")
          assert(n == t.length)
          val uniq = r.getAs[Long]("n_uniq_chars")
          assert(uniq == t.toSeq.distinct.length)
          if (n > 0) {
            val h = r.getAs[Double]("char_entropy")
            // reference: same fixed-point kernel, driver-side
            val s = t.groupBy(identity).values
              .map(g => math.round(g.length.toDouble * math.log(g.length.toDouble) * 1e12))
              .sum
            val ref = BigDecimal(math.log(n.toDouble) - s.toDouble / 1e12 / n)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
            assert(h == ref, s"doc $id")
            assert(h >= 0.0 && h <= math.log(uniq.toDouble.max(1.0)) + 1e-9,
              s"entropy out of [0, ln uniq] for doc $id")
          }
      }
    }
  }

  test("q_vocab: dense ranks, descending counts, exact cumulative coverage") {
    val rows = SparkEntry.queries("q_vocab")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length))
    val ns = rows.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sortBy(-_), "counts must be non-increasing by rank")
    // cumulative share is monotone and consistent with the per-term share
    val shares = rows.map(_.getAs[Double]("share"))
    val cums = rows.map(_.getAs[Double]("cum_share"))
    assert(cums.toSeq == cums.sorted.toSeq, "coverage curve must be monotone")
    cums.zip(shares.scanLeft(0.0)(_ + _).drop(1)).foreach { case (c, s) =>
      assert(math.abs(c - s) < 1e-6, s"cum_share $c vs summed shares $s")
    }
    // top term verified against an independent count
    val top = Tables.documents(spark, TestSpark.sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").count().orderBy(desc("count"), col("t")).first()
    assert(rows.head.getAs[String]("term") == top.getString(0))
    assert(rows.head.getAs[Long]("n") == top.getLong(1))
  }

  test("q_pii: counts match construction and redaction scrubs every pattern") {
    val rows = graft.queries.TextOps.q_pii(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    // each constructed line carries exactly one email, one IP, one
    // user-id mention; redaction must replace all three and leave no
    // residual match of any pattern
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+".r
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b".r
    val userRe = "\\buser \\d+\\b".r
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L)
      assert(r.getAs[Long]("n_ips") == 1L)
      assert(r.getAs[Long]("n_user_ids") == 1L)
      val red = r.getAs[String]("redacted")
      assert(red.startsWith("[USER] <[EMAIL]> did "), red)
      assert(red.endsWith(" from [IP]"), red)
      assert(emailRe.findFirstIn(red).isEmpty, s"email survived: $red")
      assert(ipRe.findFirstIn(red).isEmpty, s"ip survived: $red")
      assert(userRe.findFirstIn(red).isEmpty, s"user id survived: $red")
    }
  }

  private def md5hex(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q_ngram_novelty matches an independent driver-side recompute") {
    def shingles(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length >= 3) (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" "))
      else Seq(t)
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        if (r.isNullAt(1)) null else r.getString(1)))
    val perDoc = docs.filter(_._2 != null)
      .map { case (id, t) => id -> shingles(t).distinct }.toMap
    val df = perDoc.values.flatten
      .groupBy(identity).map { case (g, o) => g -> o.size }
    val out = SparkEntry.queries("q_ngram_novelty")(spark, sf).collect()
    assert(out.length == docs.length, "one row per document")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      perDoc.get(id) match {
        case Some(gs) =>
          val nG = gs.length.toLong
          val nU = gs.count(g => df(g) == 1).toLong
          assert(r.getAs[Long]("n_grams") == nG, s"doc $id n_grams")
          assert(r.getAs[Long]("n_unique") == nU, s"doc $id n_unique")
          assert(r.getAs[Long]("novelty_fp") ==
            (2 * nU * 1000000L + nG) / (2 * nG), s"doc $id novelty")
        case None => // null-text doc: zero grams, NULL novelty
          assert(r.getAs[Long]("n_grams") == 0L)
          assert(r.isNullAt(r.fieldIndex("novelty_fp")))
      }
    }
    // at least one boilerplate-free doc must be fully novel, and the
    // corpus must not be degenerate (all grams unique)
    assert(out.exists(r => r.getAs[Long]("n_grams") > 0 &&
      r.getAs[Long]("n_unique") < r.getAs[Long]("n_grams")),
      "expected at least one shared gram in the corpus")
  }

  test("q_quality_classifier matches an independent driver-side recompute") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        if (r.isNullAt(1)) null else r.getString(1)))
    val out = SparkEntry.queries("q_quality_classifier")(spark, sf).collect()
    assert(out.length == docs.length)
    val byId = docs.toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      byId(id) match {
        case null =>
          assert(r.getAs[Long]("n_toks") == 0L)
          assert(r.getAs[Long]("score_sum") == 0L)
          assert(!r.getAs[Boolean]("accept"))
        case t =>
          val toks = t.toLowerCase.split(" ", -1)
          val sum = toks.map { tok =>
            val bucket = java.lang.Long.parseLong(md5hex(tok).substring(0, 15), 16) % 1024L
            (bucket * 2654435761L) % 2001L - 1000L
          }.sum
          assert(r.getAs[Long]("n_toks") == toks.length.toLong, s"doc $id n_toks")
          assert(r.getAs[Long]("score_sum") == sum, s"doc $id score_sum")
          assert(r.getAs[Boolean]("accept") == (sum > 0), s"doc $id accept")
          assert(r.getAs[Double]("score") == sum.toDouble / toks.length, s"doc $id score")
      }
    }
    // the gate must actually split the corpus (not all-accept/all-reject)
    val nAcc = out.count(_.getAs[Boolean]("accept"))
    assert(nAcc > 0 && nAcc < out.length, s"degenerate gate: $nAcc/${out.length}")
  }

  test("q_bm25: planted corpus ranks by idf and tf as BM25 demands") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    Seq(
      (0L, "apple banana apple", "en", "s0", 18L),
      (1L, "apple cherry", "en", "s0", 12L),
      (2L, "banana banana banana", "en", "s0", 20L),
      (3L, "durian", "en", "s0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q_bm25")(spark, tmp).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("doc_id")).toSeq }
    // durian appears only in doc 3 -> its query retrieves exactly itself
    assert(byQ(3L) == Seq(3L))
    // query {banana}: doc2 (tf 3) outranks doc0 (tf 1), nothing else matches
    assert(byQ(2L) == Seq(2L, 0L))
    // query {apple, cherry}: rare cherry makes doc1 beat the
    // apple-heavier doc0; doc2/doc3 share no term
    assert(byQ(1L) == Seq(1L, 0L))
    // scores are positive and non-increasing within each query
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score_fp"))
      assert(sorted.forall(_ > 0L))
      assert(sorted.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
    // corpus shape: every query retrieves k rows with contiguous ranks
    val corpus = SparkEntry.queries("q_bm25")(spark, sf).collect()
    corpus.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length))
      assert(rs.length == 5)
    }
  }

  test("q_rrf: fused scores recompute from member ranks; the quality prior binds") {
    val rows = SparkEntry.queries("q_rrf")(spark, sf).collect()
    assert(rows.nonEmpty)
    def term(r: java.lang.Long): Long =
      if (r == null) 0L else 1000000000L / (60L + r)
    rows.foreach { r =>
      val rl = r.getAs[java.lang.Long]("r_lex")
      val rq = r.getAs[java.lang.Long]("r_qual")
      assert(rl != null || rq != null, s"memberless fused row: $r")
      assert(r.getAs[Long]("rrf_fp") == term(rl) + term(rq),
        s"fused score != sum of reciprocal terms: $r")
    }
    // the fusion is non-degenerate: some fused row carries BOTH ranks
    // (the lists overlap) and some top-k fused order differs from the
    // pure lexical order (the quality prior actually moved something)
    assert(rows.exists(r => r.getAs[java.lang.Long]("r_lex") != null &&
      r.getAs[java.lang.Long]("r_qual") != null), "lists never overlap")
    val lexTop = graft.queries.TextOps.q_bm25(spark, sf, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("doc_id")).toMap
    val moved = rows.exists { r =>
      lexTop.get((r.getAs[Long]("query_id"), r.getAs[Long]("fused_rank")))
        .exists(_ != r.getAs[Long]("doc_id"))
    }
    assert(moved, "fusion is the identity on the lexical ranking")
  }

  test("q_rbo: driver-side recomputation from the two rankings, weights monotone") {
    val v = graft.queries.TextOps.rboSuffixWeights(20, 0.9)
    assert(v.length == 20 && v.sliding(2).forall(w => w(0) > w(1)),
      "suffix weights must strictly decrease")
    val lex = graft.queries.TextOps.q_bm25(spark, sf, 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("rank")).toMap
    val qual = graft.queries.TextOps.qualityTop(spark, sf, 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("r")).toMap
    val expected = lex.keys.toSeq.groupBy(_._1).map { case (q, keys) =>
      // toSeq: two docs can share the same max-rank m, and a Set
      // collection would silently dedup them out of the sum
      val ms = keys.flatMap { case (_, doc) =>
        qual.get(doc).map(rq => math.max(lex((q, doc)), rq)) }
      q -> ((ms.size.toLong, ms.map(m => v(m.toInt - 1)).sum))
    }
    val got = SparkEntry.queries("q_rbo")(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_overlap"), r.getAs[Long]("rbo_fp")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (q, e) =>
      assert(got(q) == e, s"query $q: got ${got(q)} expected $e")
    }
    // the metric discriminates on this corpus: not all queries agree equally
    assert(got.values.map(_._2).toSet.size > 1, "RBO constant across queries")
  }

  test("q_ndcg: bounds, ideal-reorder invariance, and a driver-side recomputation") {
    val disc = graft.queries.TextOps.ndcgDiscounts(20)
    assert(disc.head == 1000000000L && disc.sliding(2).forall(w => w(0) > w(1)))
    val rows = SparkEntry.queries("q_ndcg")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dcg, idcg, n) = (r.getAs[Long]("dcg_fp"), r.getAs[Long]("idcg_fp"),
        r.getAs[Long]("ndcg_fp"))
      assert(dcg <= idcg, s"DCG exceeded ideal: $r")
      assert(n >= 0L && n <= 1000000L, s"ndcg out of [0,1]: $r")
      if (idcg > 0) assert(n == (2 * dcg * 1000000 + idcg) / (2 * idcg))
    }
    // driver-side recomputation from the two rankings
    val qual = graft.queries.TextOps.qualityTop(spark, sf, 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("r")).toMap
    val lex = graft.queries.TextOps.q_bm25(spark, sf, 20).collect()
    val byQ = lex.groupBy(_.getAs[Long]("query_id"))
    val expected = byQ.map { case (q, rs) =>
      val gains = rs.map(r => (r.getAs[Long]("rank"),
        qual.get(r.getAs[Long]("doc_id")).map(21L - _).getOrElse(0L),
        r.getAs[Long]("doc_id")))
      val dcg = gains.map { case (rk, g, _) => g * disc(rk.toInt - 1) }.sum
      val idcg = gains.sortBy { case (_, g, doc) => (-g, doc) }.zipWithIndex
        .map { case ((_, g, _), i) => g * disc(i) }.sum
      q -> ((dcg, idcg))
    }
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert((r.getAs[Long]("dcg_fp"), r.getAs[Long]("idcg_fp")) == expected(q),
        s"query $q mismatch")
    }
    // the metric discriminates: rankings differ in quality placement
    assert(rows.map(_.getAs[Long]("ndcg_fp")).distinct.length > 1)
  }

  test("q_pbm: IPS recomputes from click positions; position placement binds beyond counts") {
    val rows = SparkEntry.queries("q_pbm")(spark, sf).collect()
    assert(rows.nonEmpty)
    // driver-side recompute from the two declared rankings
    val clicks = graft.queries.TextOps.qualityTop(spark, sf, 20).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val byQ = graft.queries.TextOps.q_bm25(spark, sf, 20).collect()
      .groupBy(_.getAs[Long]("query_id"))
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val ranks = byQ(q).filter(x => clicks(x.getAs[Long]("doc_id")))
        .map(_.getAs[Long]("rank"))
      assert(r.getAs[Long]("n_clicks") == ranks.length.toLong, s"query $q clicks")
      assert(r.getAs[Long]("ctr_fp") ==
        (2L * ranks.length * 1000000L + 20L) / 40L, s"query $q ctr")
      assert(r.getAs[Long]("ips_fp") ==
        (2L * ranks.sum * 1000000L + 20L) / 40L, s"query $q ips")
      // IPS bounds: each clicked rank contributes in [1, depth]x its
      // count, so ips/ctr sits in [1, 20] whenever clicks exist
      if (ranks.nonEmpty)
        assert(r.getAs[Long]("ips_fp") >= r.getAs[Long]("ctr_fp"))
    }
    // position placement binds: two queries with the SAME click count
    // must read different IPS somewhere, else the propensity term is
    // dead weight (measured: rank placement varies per query)
    val byClicks = rows.groupBy(_.getAs[Long]("n_clicks")).filter(_._2.length > 1)
    assert(byClicks.exists { case (_, rs) =>
      rs.map(_.getAs[Long]("ips_fp")).distinct.length > 1
    }, "IPS never discriminates among equal click counts")
  }

  test("q_hill: a planted power law reads alpha ~ 1; the uniform corpus reads alpha >> 1") {
    import spark.implicits._
    def halfUp(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    val tmp = java.nio.file.Files.createTempDirectory("hill").toString
    // counts 840/r for r = 1..8 (the q_zipf fixture): an EXACT Zipf
    // law, whose Hill index at any k is ~1 by construction
    (1 to 8).map { r =>
      (r.toLong, Seq.fill(840 / r)(s"term$r").mkString(" "), "en", "s0", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = SparkEntry.queries("q_hill")(spark, tmp).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    // driver-side recompute with the identical quantization for k=5
    val cs = (1 to 8).map(840 / _)
    val ln9 = cs.map(c => halfUp(math.log(c.toDouble) * 1e9))
    val s5 = ln9.take(5).sum - 5L * ln9(5)
    assert(planted(5L).getAs[Long]("s_fp9") == s5)
    assert(planted(5L).getAs[Long]("alpha_fp") ==
      (2L * 5L * 1000000000000000L + s5) / (2L * s5))
    val a5 = planted(5L).getAs[Long]("alpha_fp")
    assert(a5 > 1100000L && a5 < 1300000L, s"power-law alpha off: $a5")
    // k past the 8-term vocabulary yields NULL, not an error
    assert(planted(10L).isNullAt(planted(10L).fieldIndex("alpha_fp")))
    // the real corpus has NO tail to cut: alpha well above 1 at every k
    val corpus = SparkEntry.queries("q_hill")(spark, sf).collect()
    corpus.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("alpha_fp")))
        assert(r.getAs[Long]("alpha_fp") > 5000000L,
          s"uniform corpus read as heavy-tailed: $r")
    }
  }

  test("q_ece: hand-computed reliability buckets on a planted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ece").toString
    // n_chars=300 -> sigma(0)=0.5 -> conf 500000, bucket 5; one of two
    // is en -> acc 500000, gap 0 (a perfectly calibrated cell).
    // n_chars=50 -> conf round(1e6/(1+e^5)) = 6693, bucket 0; both en
    // -> acc 1e6, gap 993307. ECE = round((2*0 + 2*993307)/4) = 496654.
    Seq(
      (1L, "x", "en", "s0", 300L), (2L, "x", "fr", "s0", 300L),
      (3L, "x", "en", "s0", 50L), (4L, "x", "en", "s0", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q_ece")(spark, tmp).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(rows.keySet == Set(0L, 5L))
    assert(rows(5L).getAs[Long]("acc_fp") == 500000L)
    assert(rows(5L).getAs[Long]("avg_conf_fp") == 500000L)
    assert(rows(5L).getAs[Long]("gap_fp") == 0L)
    assert(rows(0L).getAs[Long]("avg_conf_fp") == 6693L)
    assert(rows(0L).getAs[Long]("gap_fp") == 993307L)
    rows.values.foreach(r => assert(r.getAs[Long]("ece_fp") == 496654L))
    // corpus: the declared model is genuinely miscalibrated (the finding)
    val corpus = SparkEntry.queries("q_ece")(spark, sf).collect()
    assert(corpus.map(_.getAs[Long]("ece_fp")).head > 100000L,
      "ECE under 0.1 - the planted miscalibration vanished")
    assert(corpus.map(_.getAs[Long]("gap_fp")).distinct.length > 1,
      "reliability gaps constant across buckets")
  }

  test("q_zipf: an exact power-law corpus fits slope -1 with r2 ~ 1") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("zipf").toString
    // counts 840/r for r = 1..8 (840 = lcm(1..8)) -> ln c = ln 840 - ln r,
    // an EXACT line of slope -1 up to the 1e-6 ln quantization
    val docs = (1 to 8).map { r =>
      (r.toLong, Seq.fill(840 / r)(s"term$r").mkString(" "), "en", "s0", 0L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val row = SparkEntry.queries("q_zipf")(spark, tmp).collect().head
    assert(row.getAs[Long]("n_terms") == 8L)
    assert(math.abs(row.getAs[Double]("slope") + 1.0) < 1e-4,
      s"slope ${row.getAs[Double]("slope")}")
    assert(row.getAs[Double]("r2") > 0.999999)
    // corpus: the full vocab fits with a negative slope and a sane r2
    val c = SparkEntry.queries("q_zipf")(spark, sf).collect().head
    assert(c.getAs[Long]("n_terms") > 0L)
    assert(c.getAs[Double]("slope") < 0.0)
    val r2 = c.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("q_lorenz: uniform corpus gives Gini 0; total concentration gives (n-1)/n") {
    import spark.implicits._
    def write(rows: Seq[(Long, String)], name: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      rows.map { case (id, t) => (id, t, "en", "s0", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    }
    // 10 docs x 5 tokens: perfectly equal -> gini 0, shares d/10
    val uni = (0L until 10L).map(i => (i, "a b c d e"))
    val u = SparkEntry.queries("q_lorenz")(spark, write(uni, "lorenzu")).collect()
    assert(u.length == 10)
    u.foreach { r =>
      assert(r.getAs[Long]("gini_fp") == 0L)
      assert(r.getAs[Long]("cum_share_fp") == r.getAs[Long]("decile") * 100000L)
    }
    // 9 empty docs + 1 carrying all 10 tokens -> gini = 0.9 exactly
    val skew = (0L until 9L).map(i => (i, "")) :+ (9L, Seq.fill(10)("w").mkString(" "))
    val sk = SparkEntry.queries("q_lorenz")(spark, write(skew, "lorenzs")).collect()
    assert(sk.forall(_.getAs[Long]("gini_fp") == 900000L))
    assert(sk.map(_.getAs[Long]("tokens")).sum == 10L)
    // corpus: shares are monotone, reach exactly 1e6, gini in [0, 1e6)
    val c = SparkEntry.queries("q_lorenz")(spark, sf).collect().sortBy(_.getAs[Long]("decile"))
    assert(c.last.getAs[Long]("cum_share_fp") == 1000000L)
    assert(c.map(_.getAs[Long]("cum_share_fp")).sliding(2)
      .forall(w => w.length < 2 || w(0) <= w(1)))
    val g = c.head.getAs[Long]("gini_fp")
    assert(g >= 0L && g < 1000000L)
  }

  test("q_ks: identical halves give 0; disjoint supports give 1e6") {
    import spark.implicits._
    def write(rows: Seq[(Long, Long)], name: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      rows.map { case (id, nc) => (id, "t", "en", "s0", nc) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    }
    val same = (0L until 20L).map(i => (i, 100L + (i / 2) * 7L))
    val s0 = SparkEntry.queries("q_ks")(spark, write(same, "kss")).collect().head
    assert(s0.getAs[Long]("d_num") == 0L && s0.getAs[Long]("ks_fp") == 0L)
    val disj = (0L until 20L).map(i => (i, if (i % 2 == 0) 100L else 200L))
    val d0 = SparkEntry.queries("q_ks")(spark, write(disj, "ksd")).collect().head
    assert(d0.getAs[Long]("ks_fp") == 1000000L)
    // corpus: bounded statistic, populations reconcile
    val c = SparkEntry.queries("q_ks")(spark, sf).collect().head
    assert(c.getAs[Long]("ks_fp") >= 0L && c.getAs[Long]("ks_fp") <= 1000000L)
    assert(c.getAs[Long]("n_ref") + c.getAs[Long]("n_cur") ==
      Tables.documents(spark, sf).filter(col("n_chars").isNotNull).count())
  }

  test("q_chi2: exact independence gives zero; a diagonal table gives chi2 = N") {
    import spark.implicits._
    def write(rows: Seq[(Long, String, String)], name: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      rows.map { case (id, l, src) => (id, "t", l, src, 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      tmp
    }
    // balanced 2x2 with equal cells -> O*N == R*C exactly -> all zero
    val indep = (0 until 20).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "fr", if (i < 10) "s0" else "s1"))
    val zi = SparkEntry.queries("q_chi2")(spark, write(indep, "chi2i")).collect()
    assert(zi.length == 4)
    zi.foreach(r => assert(r.getAs[Long]("chi2_fp") == 0L))
    // perfectly dependent diagonal -> every cell contributes N/4 = 5
    val dep = (0 until 20).map(i =>
      (i.toLong, if (i < 10) "en" else "fr", if (i < 10) "s0" else "s1"))
    val zd = SparkEntry.queries("q_chi2")(spark, write(dep, "chi2d")).collect()
    assert(zd.length == 4)
    zd.foreach(r => assert(r.getAs[Long]("chi2_fp") == 5000000L))
    // corpus: dense spine reconciles to the doc count; contributions >= 0
    val corpus = SparkEntry.queries("q_chi2")(spark, sf).collect()
    assert(corpus.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    corpus.foreach(r => assert(r.getAs[Long]("chi2_fp") >= 0L))
  }

  test("q_drift_psi: identical halves give zero PSI; planted shift is detected") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("psi").toString
    // even/odd doc_ids carry IDENTICAL n_chars multisets -> every
    // bucket has n_ref == n_cur -> ln ratio 0, psi 0
    val same = (0L until 40L).map(i => (i, "t", "en", "s0", 100L + (i / 2) * 10L))
    same.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q_drift_psi")(spark, tmp).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ref") == r.getAs[Long]("n_cur"))
      assert(r.getAs[Long]("lr_fp") == 0L)
      assert(r.getAs[Long]("psi_fp") == 0L)
    }
    // planted drift: evens short (100), odds long (500) -> the two
    // occupied buckets each carry a large positive psi term
    val tmp2 = java.nio.file.Files.createTempDirectory("psi2").toString
    val shifted = (0L until 40L).map(i =>
      (i, "t", "en", "s0", if (i % 2 == 0) 100L else 500L))
    shifted.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val drift = SparkEntry.queries("q_drift_psi")(spark, tmp2).collect()
    val occupied = drift.filter(r =>
      r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur") > 0)
    assert(occupied.length == 2)
    occupied.foreach(r => assert(r.getAs[Long]("psi_fp") > 1000000000L,
      s"psi term too small: ${r.getAs[Long]("psi_fp")}"))
    // corpus run: buckets within range, counts reconcile to the split
    val corpus = SparkEntry.queries("q_drift_psi")(spark, sf).collect()
    val nRef = corpus.map(_.getAs[Long]("n_ref")).sum
    val nCur = corpus.map(_.getAs[Long]("n_cur")).sum
    val nDocs = Tables.documents(spark, sf).count()
    assert(nRef + nCur == nDocs)
    corpus.foreach(r => assert(r.getAs[Long]("psi_fp") >= 0L))
  }

  // Hand-check pins: planted first-occurrence ownership for q_novelty,
  // and q_map's AP fold re-derived sequentially from the same click log
  // plus its fixed-point arithmetic on a closed-form case. The DuckDB
  // oracle is the cross-engine gate; these pin the semantics.
  test("q_novelty: first-occurrence ownership on a planted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("nov-docs").toString
    // doc 0: 3 distinct shingles, all first-seen here (novelty 1).
    // doc 1: exact dup of doc 0 (novelty 0).
    // doc 2: shares one shingle with doc 0 ("a b c"), adds two new
    //        ones -> 2/3 novel.
    // doc 3: null text -> null row. doc 4: short text -> whole-text
    //        fallback shingle, first-seen -> novelty 1.
    Seq[(Long, String, String, String, Long)](
      (0L, "a b c d e", "en", "s", 9L),
      (1L, "a b c d e", "en", "s", 9L),
      (2L, "a b c x y", "en", "s", 9L),
      (3L, null, "en", "s", 0L),
      (4L, "zz", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("q_novelty")(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("n_grams")),
          Option(r.getAs[java.lang.Long]("n_novel")),
          Option(r.getAs[java.lang.Long]("novelty_fp")))).toMap
    assert(got(0L) == ((Some(3L), Some(3L), Some(1000000L))))
    assert(got(1L) == ((Some(3L), Some(0L), Some(0L))))
    assert(got(2L) == ((Some(3L), Some(2L), Some(666667L))))
    assert(got(3L) == ((None, None, None)), "null text must report null")
    assert(got(4L) == ((Some(1L), Some(1L), Some(1000000L))))
  }

  test("q_map equals a sequential AP recompute over the shared click log") {
    val depth = 20
    val log = graft.queries.TextOps.pbmClicked(spark, sf, depth)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("click")))
    val L = (1 to depth).foldLeft(1L)((l, i) =>
      l / BigInt(l).gcd(BigInt(i)).toLong * i)
    val expected = log.groupBy(_._1).map { case (q, rows) =>
      var hits = 0L
      var apSum = 0L
      rows.sortBy(_._2).foreach { case (_, rank, click) =>
        hits += click
        if (click == 1L) apSum += hits * (L / rank)
      }
      val den = L * depth
      q -> (rows.map(_._3).sum, (2 * apSum * 1000000 + den) / (2 * den))
    }
    val got = graft.queries.TextOps.q_map(spark, sf, depth).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_rel"), r.getAs[Long]("ap_fp")))).toMap
    assert(got.nonEmpty && got == expected)
    assert(got.values.map(_._2).toSet.size > 1,
      "AP must vary across queries (non-degeneracy)")
  }

  test("q_map fixed-point arithmetic: closed-form two-hit case") {
    // clicks at ranks 1 and 3 with depth 20:
    // AP = (1/20) * (1/1 + 2/3) = 1/12 -> ap_fp = round(1e6/12) = 83333
    val L = 232792560L
    val apSum = 1L * (L / 1) + 2L * (L / 3)
    val den = L * 20
    assert((2 * apSum * 1000000 + den) / (2 * den) == 83333L)
  }
}
