package graft

import org.scalatest.funsuite.AnyFunSuite

/** q_bpe_train against an INDEPENDENT driver-side BPE trainer
  * (list-based greedy merge, no string replace — a different
  * mechanism than the operator's bracketed-string rewrite, so a
  * representation bug in either cannot cancel out).
  */
class BpeSpec extends AnyFunSuite {
  import TestSpark._

  /** Reference learn_bpe: vocab as symbol LISTS; merge = greedy
    * leftmost non-overlapping rewrite; ties (cnt DESC, bracketed-pair
    * ASC) — the operator's documented order.
    */
  private def referenceBpe(words: Seq[String], merges: Int): Seq[(Long, String, String, String, Long)] = {
    var vocab: Map[List[String], Long] = words
      .filter(_.length > 1)
      .groupBy(identity).map { case (w, xs) => w.map(_.toString).toList -> xs.length.toLong }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + n)
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, s"<$l><$r>") }
        out += ((step.toLong, l, r, l + r, cnt))
        def mergeIn(syms: List[String]): List[String] = syms match {
          case a :: b :: rest if a == l && b == r => (a + b) :: mergeIn(rest)
          case a :: rest => a :: mergeIn(rest)
          case Nil => Nil
        }
        vocab = vocab.groupMapReduce { case (syms, _) => mergeIn(syms) }(_._2)(_ + _)
        step += 1
      }
    }
    out.toSeq
  }

  test("q_bpe_train equals the independent list-based trainer on sf0.001") {
    val got = SparkEntry.queries("q_bpe_train")(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[String]("merged"), r.getAs[Long]("cnt"))).toSeq
    val words = Tables.documents(spark, TestSpark.sf).collect()
      .flatMap(r => Option(r.getAs[String]("text")))
      .flatMap(_.split(" "))
      .toSeq
    val want = referenceBpe(words, merges = 8)
    assert(got == want)
    // the loop genuinely iterates: some later merge consumes an
    // earlier merged symbol (multi-char lhs or rhs)
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1),
      "no merge consumed an earlier merge — the vocab rewrite is dead code")
  }

  test("q_bpe_train step 1 equals q_bpe's rank-1 pair") {
    val bpe1 = SparkEntry.queries("q_bpe")(spark, TestSpark.sf).collect()
      .find(_.getAs[Long]("rank") == 1L).get
    val train1 = SparkEntry.queries("q_bpe_train")(spark, TestSpark.sf).collect()
      .find(_.getAs[Long]("step") == 1L).get
    assert(train1.getAs[String]("merged") == bpe1.getAs[String]("pair"))
    assert(train1.getAs[Long]("cnt") == bpe1.getAs[Long]("cnt"))
  }

  test("K=64 with a short checkpoint cadence survives and matches the independent trainer") {
    // tokenizer-real K stacks one replace projection per merge; the
    // cadence (here every 8 merges → 8 truncations) must neither alter
    // results nor let the plan depth grow with K
    val got = graft.queries.BpeOps.q_bpe_train(spark, TestSpark.sf,
        merges = 64, checkpointEvery = 8).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[String]("merged"), r.getAs[Long]("cnt"))).toSeq
    val words = Tables.documents(spark, TestSpark.sf).collect()
      .flatMap(r => Option(r.getAs[String]("text")))
      .flatMap(_.split(" "))
      .toSeq
    val want = referenceBpe(words, merges = 64)
    assert(got == want)
    assert(got.length == 64, s"corpus exhausted early at ${got.length} merges")
  }

  test("q_bpe_encode equals an independent list-based encoder applying the same merges") {
    val docs = Tables.documents(spark, TestSpark.sf).collect()
      .flatMap(r => Option(r.getAs[String]("text")).map(t => r.getAs[Long]("doc_id") -> t))
      .toMap
    val merges = referenceBpe(
      docs.values.flatMap(_.split(" ")).toSeq, merges = 8)
    // greedy leftmost non-overlapping rewrite, same mechanism as the
    // trainer's reference (list-based — NOT the operator's bracketed
    // string replace, so a representation bug cannot cancel out)
    def encodeLen(word: String): Long = {
      var syms = word.map(_.toString).toList
      merges.foreach { case (_, l, r, m, _) =>
        def go(s: List[String]): List[String] = s match {
          case a :: b :: rest if a == l && b == r => m :: go(rest)
          case a :: rest => a :: go(rest)
          case Nil => Nil
        }
        syms = go(syms)
      }
      syms.length.toLong
    }
    val want = docs.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      id -> ((ws.length.toLong, ws.map(_.length.toLong).sum, ws.map(encodeLen).sum))
    }
    val got = SparkEntry.queries("q_bpe_encode")(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_base_symbols"),
          r.getAs[Long]("n_bpe_tokens")))).toMap
    assert(got == want)
    // merges genuinely compress: total BPE tokens < total base symbols
    assert(got.values.map(_._3).sum < got.values.map(_._2).sum)
  }

  test("degenerate corpus (single-char words only) trains zero merges") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe0").toString
    Seq((1L, "a b c", "en", "s0", 5L), (2L, null.asInstanceOf[String], "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(SparkEntry.queries("q_bpe_train")(spark, tmp).count() == 0L)
  }

  test("encodeWith a Sinks-persisted merge table equals the composed q_bpe_encode") {
    // the train-once/encode-often split (r8 verdict #3): persisting
    // the fit through the parquet round-trip and encoding from the
    // read-back table must be indistinguishable from the composed
    // oracle key
    val dir = java.nio.file.Files.createTempDirectory("bpe_merges").toString
    val trained = graft.queries.BpeOps.q_bpe_train(spark, TestSpark.sf)
    graft.sources.Sinks.writeModel(trained, s"$dir/merges")
    val persisted = graft.sources.Sinks.readParquet(spark, s"$dir/merges")
    val viaTable = graft.queries.BpeOps.encodeWith(spark, TestSpark.sf, persisted)
      .collect().toSeq
    val composed = SparkEntry.queries("q_bpe_encode")(spark, TestSpark.sf)
      .collect().toSeq
    assert(viaTable == composed)
  }

  test("q_tok_fertility sums reconcile with q_bpe_encode and bounds hold") {
    val fert = SparkEntry.queries("q_tok_fertility")(spark, TestSpark.sf).collect()
    assert(fert.nonEmpty)
    // per-lang sums must equal the per-doc encode totals regrouped
    val enc = SparkEntry.queries("q_bpe_encode")(spark, TestSpark.sf).collect()
    assert(fert.map(_.getAs[Long]("n_words")).sum == enc.map(_.getAs[Long]("n_words")).sum)
    assert(fert.map(_.getAs[Long]("n_bpe_tokens")).sum == enc.map(_.getAs[Long]("n_bpe_tokens")).sum)
    assert(fert.map(_.getAs[Long]("n_base_symbols")).sum == enc.map(_.getAs[Long]("n_base_symbols")).sum)
    fert.foreach { r =>
      // merges only shrink: >= 1 symbol per token, >= 1 token per word
      assert(r.getAs[Long]("symbols_per_token_fp") >= 1000000L)
      assert(r.getAs[Long]("tokens_per_word_fp") >= 1000000L)
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_base_symbols"))
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_bpe_tokens"))
    }
  }

  test("merge nesting: the first k of a K-merge fit ARE the k-merge fit (q_bpe_sweep's premise)") {
    def fit(k: Int) = graft.queries.BpeOps.q_bpe_train(spark, TestSpark.sf, k)
      .collect().map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("cnt"))).toSeq
    val k8 = fit(8)
    assert(fit(4) == k8.take(4))
    assert(fit(2) == k8.take(2))
  }

  test("q_bpe_sweep: anchored at k=0, monotone, telescoping, reconciles with q_bpe_encode") {
    val rows = SparkEntry.queries("q_bpe_sweep")(spark, TestSpark.sf).collect()
      .sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    val s0 = rows.head.getAs[Long]("total_base_symbols")
    // k = 0 anchor: no merges, tokens = symbols, compression exactly 1e6
    assert(rows.head.getAs[Long]("total_bpe_tokens") == s0)
    assert(rows.head.getAs[Long]("symbols_per_token_fp") == 1000000L)
    assert(rows.head.getAs[Long]("tokens_saved") == 0L)
    // every checkpoint shares the one base-symbol total; tokens are
    // non-increasing in k (merges only shrink); saved telescopes
    rows.foreach(r => assert(r.getAs[Long]("total_base_symbols") == s0))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("total_bpe_tokens") <= a.getAs[Long]("total_bpe_tokens"))
      assert(b.getAs[Long]("tokens_saved") ==
        a.getAs[Long]("total_bpe_tokens") - b.getAs[Long]("total_bpe_tokens"))
      assert(b.getAs[Long]("n_merges") >= a.getAs[Long]("n_merges"))
    }
    // the k=8 endpoint IS the full encode: totals reconcile bit-for-bit
    val enc = SparkEntry.queries("q_bpe_encode")(spark, TestSpark.sf).collect()
    val last = rows.last
    assert(last.getAs[Long]("total_bpe_tokens") ==
      enc.map(_.getAs[Long]("n_bpe_tokens")).sum)
    // (encode keeps single-char words' symbols too — same corpus slice)
    assert(s0 == enc.map(_.getAs[Long]("n_base_symbols")).sum)
    // the corpus must actually compress (non-degenerate)
    assert(last.getAs[Long]("total_bpe_tokens") < s0)
  }

  test("fertilityWith a persisted merge table equals the composed q_tok_fertility") {
    val dir = java.nio.file.Files.createTempDirectory("fert_merges").toString
    val trained = graft.queries.BpeOps.q_bpe_train(spark, TestSpark.sf)
    graft.sources.Sinks.writeModel(trained, s"$dir/merges")
    val persisted = graft.sources.Sinks.readParquet(spark, s"$dir/merges")
    val viaTable = graft.queries.BpeOps.fertilityWith(spark, TestSpark.sf, persisted)
      .collect().toSeq
    val composed = SparkEntry.queries("q_tok_fertility")(spark, TestSpark.sf)
      .collect().toSeq
    assert(viaTable == composed)
  }
}
