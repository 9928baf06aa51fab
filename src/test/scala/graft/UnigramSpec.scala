package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the unigram-LM tokenizer trainer
  * (graft.queries.UnigramOps): a full independent Scala
  * re-implementation of the declared hard-EM on a planted fixture
  * (exact row-level equality), EM-objective monotonicity on the real
  * corpus, and train/encode structural bounds. Exact corpus values
  * are DuckDB-oracle-checked.
  */
class UnigramSpec extends AnyFunSuite {
  import TestSpark._

  // ---- independent reference implementation of the declared EM ----
  private val BIGNEG = -1000000000000000L
  private def halfUp(x: Double): Long = java.math.BigDecimal.valueOf(x)
    .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  /** Viterbi forward+backward under (piece → score); returns the
    * piece list (in order) and best[W]. */
  private def viterbi(word: String, score: Map[String, Long]): (Seq[String], Long) = {
    val W = word.length
    val best = Array.fill(W + 1)(0L)
    for (j <- 1 to W)
      best(j) = (1 to 4).filter(_ <= j).map { l =>
        best(j - l) + score.getOrElse(word.substring(j - l, j), BIGNEG)
      }.max
    var j = W
    var lens = List.empty[Int]
    while (j > 0) {
      val enc = (1 to 4).filter(_ <= j).map { l =>
        (best(j - l) + score.getOrElse(word.substring(j - l, j), BIGNEG)) * 8 + l
      }.max
      val l = (((enc % 8) + 8) % 8).toInt
      lens = l :: lens // prepend: lens ends up in word order
      j -= l
    }
    val pieces = lens.foldLeft((0, Seq.empty[String])) { case ((p, acc), l) =>
      (p + l, acc :+ word.substring(p, p + l))
    }._2
    (pieces, best(W))
  }

  /** The full declared trainer: (vocabRows(piece → (usage, score)),
    * obj1, obj2) plus the encode model (word → n_tok under final
    * scores). */
  private def reference(wordCounts: Map[String, Long], topM: Int = 24)
      : (Map[String, (Long, Long)], Long, Long, Map[String, Long]) = {
    val cand = wordCounts.toSeq.flatMap { case (w, n) =>
      for (i <- 0 until w.length; l <- 1 to math.min(4, w.length - i))
        yield (w.substring(i, i + l), n)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val vocab = cand.keys.filter(_.length == 1).toSeq ++
      cand.filter(_._1.length > 1).toSeq
        .sortBy { case (p, f) => (-f, p) }.take(topM).map(_._1)
    val ft = vocab.map(cand).sum
    var score: Map[String, Long] =
      vocab.map(p => p -> halfUp(math.log(cand(p).toDouble / ft) * 1e9)).toMap
    var usage = Map.empty[String, Long]
    val objs = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to 2).foreach { _ =>
      val segs = wordCounts.toSeq.map { case (w, n) =>
        val (ps, b) = viterbi(w, score); (ps, n, b)
      }
      objs += segs.map { case (_, n, b) => n * b }.sum
      usage = vocab.map { p =>
        p -> segs.map { case (ps, n, _) => n * ps.count(_ == p) }.sum
      }.toMap
      val t = usage.values.sum
      val v = vocab.size
      score = vocab.map(p =>
        p -> halfUp(math.log((usage(p) + 1).toDouble / (t + v)) * 1e9)).toMap
    }
    val wordTok = wordCounts.keys
      .map(w => w -> viterbi(w, score)._1.length.toLong).toMap
    (vocab.map(p => p -> ((usage(p), score(p)))).toMap,
      objs(0), objs(1), wordTok)
  }

  private val fixtureDocs = Seq(
    (0L, "abab abab abab cdcd ef"),
    (1L, "abab cdcd cd a b abcd"),
    (2L, "ababab cd ef ef abab"))

  private lazy val fixtureDir: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("unigram").toString
    fixtureDocs.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private lazy val fixtureWords: Map[String, Long] = fixtureDocs
    .flatMap(_._2.split(" ")).filter(_.nonEmpty)
    .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }

  test("q_unigram_train equals the independent reference EM on a planted corpus") {
    val (expVocab, obj1, obj2, _) = reference(fixtureWords)
    val rows = graft.queries.UnigramOps.q_unigram_train(spark, fixtureDir).collect()
    assert(rows.length == expVocab.size, "vocab size")
    rows.foreach { r =>
      val p = r.getAs[String]("piece")
      val (u, sc) = expVocab(p)
      assert(r.getAs[Long]("usage") == u, s"usage of '$p'")
      assert(r.getAs[Long]("score_fp") == sc, s"score of '$p'")
      assert(r.getAs[Long]("len") == p.length.toLong)
      assert(r.getAs[Long]("obj1_fp") == obj1 && r.getAs[Long]("obj2_fp") == obj2)
    }
    // the fixture is non-trivial: a multi-char piece carries real
    // usage (the trainer found structure) and EM actually moved
    val multiUsed = rows.exists(r =>
      r.getAs[Long]("len") > 1 && r.getAs[Long]("usage") > 0)
    assert(multiUsed, "no multi-char piece was ever used")
    assert(obj2 != obj1, "fixture EM is a fixed point from round 1 — weak test")
  }

  test("q_unigram_encode equals the reference per-doc token counts on the fixture") {
    val (_, _, _, wordTok) = reference(fixtureWords)
    val rows = graft.queries.UnigramOps.q_unigram_encode(spark, fixtureDir).collect()
    assert(rows.length == fixtureDocs.length)
    rows.foreach { r =>
      val ws = fixtureDocs.find(_._1 == r.getAs[Long]("doc_id")).get
        ._2.split(" ").filter(_.nonEmpty)
      assert(r.getAs[Long]("n_words") == ws.length.toLong)
      assert(r.getAs[Long]("n_chars") == ws.map(_.length.toLong).sum)
      assert(r.getAs[Long]("n_unigram_tokens") == ws.map(wordTok).sum)
    }
  }

  test("q_unigram_prune equals the reference loss-per-piece on the fixture; prune order is sound") {
    // reference: re-run the declared EM to its final score map, then
    // delta(piece) = obj(full) - obj(without piece) under those scores
    val (vocabRows, _, _, _) = reference(fixtureWords)
    val score = vocabRows.map { case (p, (_, s)) => p -> s }
    def obj(sc: Map[String, Long]): Long =
      fixtureWords.map { case (w, n) => n * viterbi(w, sc)._2 }.sum
    val full = obj(score)
    val expected = vocabRows.collect {
      case (p, (u, _)) if p.length > 1 && u > 0 =>
        p -> ((u, full - obj(score - p)))
    }.toMap
    val rows = graft.queries.UnigramOps.q_unigram_prune(spark, fixtureDir).collect()
    assert(rows.length == expected.size, s"candidate set size: ${rows.length}")
    rows.foreach { r =>
      val p = r.getAs[String]("piece")
      assert((r.getAs[Long]("usage"), r.getAs[Long]("delta_fp")) == expected(p),
        s"prune row for '$p'")
    }
    // real corpus: deltas non-negative, ascending with the declared
    // tie order, candidates restricted to used multi-char pieces
    val corpus = SparkEntry.queries("q_unigram_prune")(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getAs[Long]("delta_fp") >= 0L, s"negative loss: $r")
      assert(r.getAs[String]("piece").length > 1 && r.getAs[Long]("usage") > 0L)
    }
    val ds = corpus.map(r => (r.getAs[Long]("delta_fp"), r.getAs[String]("piece")))
    assert(ds.sorted.toSeq == ds.toSeq, "not in prune (delta asc) order")
    assert(ds.map(_._1).distinct.length > 1, "loss is constant — weak criterion")
  }

  test("encodeWithModel on a persisted model table equals the composed q_unigram_encode") {
    val tmp = java.nio.file.Files.createTempDirectory("unimodel").toString
    val trained = graft.queries.UnigramOps.q_unigram_train(spark, fixtureDir)
    graft.sources.Sinks.writeModel(
      trained.select("piece", "score_fp"), s"$tmp/unigram_model.parquet")
    val model = graft.sources.Sinks.readModel(
      spark, s"$tmp/unigram_model.parquet")
    val viaModel = graft.queries.UnigramOps.encodeWithModel(spark, fixtureDir, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val composed = graft.queries.UnigramOps.q_unigram_encode(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaModel.toSeq == composed.toSeq,
      "persisted-model encode diverged from the composed train+encode")
  }

  test("EM objective is monotone on the real corpus; encode bounds hold per doc") {
    val rows = SparkEntry.queries("q_unigram_train")(spark, sf).collect()
    assert(rows.nonEmpty)
    val (o1, o2) = (rows.head.getAs[Long]("obj1_fp"), rows.head.getAs[Long]("obj2_fp"))
    assert(o2 >= o1, s"EM objective regressed: $o1 -> $o2")
    // every corpus character is in the vocabulary (segmentation closure)
    val pieces = rows.map(_.getAs[String]("piece")).toSet
    val chars = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .collect().flatMap(_.getAs[String]("text").split(" ")).flatten.map(_.toString).toSet
    assert(chars.subsetOf(pieces), s"missing chars: ${chars -- pieces}")
    val enc = SparkEntry.queries("q_unigram_encode")(spark, sf).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_unigram_tokens"))
      assert(t >= w && t <= c, s"token count outside [words, chars]: $r")
    }
    // the tokenizer genuinely compresses somewhere (multi-char pieces fire)
    assert(enc.exists(r => r.getAs[Long]("n_unigram_tokens") <
      r.getAs[Long]("n_chars")), "encode never beat character segmentation")
  }
}
