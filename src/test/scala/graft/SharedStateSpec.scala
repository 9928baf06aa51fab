package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SharedState artifact cache's contract is audit-critical: a
  * cache hit under `spark.graft.ckptCapture` would leave PlanAudit
  * blind to the shared subtree for every consumer after the first.
  * Pin the bypass, the hit path, and the test-reset hook
  * (ConcurrencySpec pins the one-build-per-key contract).
  */
class SharedStateSpec extends AnyFunSuite {
  import TestSpark._

  private def build(tag: String): (String, Long) =
    (tag, System.nanoTime())

  test("same (name, dir) returns the cached instance; different keys build fresh") {
    graft.plans.SharedState.reset()
    val a = graft.plans.SharedState.cached(spark, "spec.a", "/d1")(build("a"))
    val a2 = graft.plans.SharedState.cached(spark, "spec.a", "/d1")(build("a2"))
    assert(a2 eq a, "second call must return the cached instance")
    val b = graft.plans.SharedState.cached(spark, "spec.a", "/d2")(build("b"))
    assert(!(b eq a), "different dir must build its own artifact")
    val c = graft.plans.SharedState.cached(spark, "spec.c", "/d1")(build("c"))
    assert(!(c eq a), "different name must build its own artifact")
  }

  test("ckptCapture bypasses the cache (audit axis)") {
    graft.plans.SharedState.reset()
    val warm = graft.plans.SharedState.cached(spark, "spec.x", "/d")(build("warm"))
    spark.conf.set("spark.graft.ckptCapture", "true")
    try {
      val fresh = graft.plans.SharedState.cached(spark, "spec.x", "/d")(build("f"))
      assert(!(fresh eq warm), "cache hit under the audit axis")
      val fresh2 = graft.plans.SharedState.cached(spark, "spec.x", "/d")(build("f2"))
      assert(!(fresh2 eq fresh), "memoized under the audit axis")
    } finally spark.conf.unset("spark.graft.ckptCapture")
    // the warm entry is untouched by the bypassed calls
    val again = graft.plans.SharedState.cached(spark, "spec.x", "/d")(build("z"))
    assert(again eq warm, "bypass must not evict or replace cached entries")
  }

  test("cachedDf disk layer: opt-in, survives a memory reset, invalidates on input change") {
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("ss-corpus").toString
    val arts = java.nio.file.Files.createTempDirectory("ss-arts").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$corpus/input.parquet")
    var builds = 0
    def build() = { builds += 1; spark.read.parquet(s"$corpus/input.parquet") }
    // default OFF: conf unset means in-memory only, nothing on disk
    graft.plans.SharedState.reset()
    graft.plans.SharedState
      .cachedDf(spark, "spec.df", corpus, Seq("input.parquet"))(build()).count()
    assert(builds == 1)
    assert(!new java.io.File(s"$arts/spec.df").exists, "wrote despite conf unset")
    // opt in: first call builds + persists, a post-reset call reads
    // the parquet back WITHOUT invoking the builder (the cross-JVM
    // path, simulated by clearing the in-memory layer)
    spark.conf.set("spark.graft.artifacts.dir", arts)
    try {
      graft.plans.SharedState.reset()
      val a = graft.plans.SharedState
        .cachedDf(spark, "spec.df", corpus, Seq("input.parquet"))(build())
      assert(builds == 2 && a.count() == 2)
      assert(new java.io.File(s"$arts/spec.df").exists, "artifact not persisted")
      graft.plans.SharedState.reset()
      val b = graft.plans.SharedState
        .cachedDf(spark, "spec.df", corpus, Seq("input.parquet"))(build())
      assert(builds == 2, "disk hit must not rebuild")
      assert(b.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      // touching the input invalidates the fingerprint
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$corpus/input.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      graft.plans.SharedState.reset()
      graft.plans.SharedState
        .cachedDf(spark, "spec.df", corpus, Seq("input.parquet"))(build()).count()
      assert(builds == 3, "stale artifact served after input changed")
      // empty frames round-trip with their schema intact
      graft.plans.SharedState.reset()
      val e = graft.plans.SharedState.cachedDf(spark, "spec.empty", corpus,
        Seq("input.parquet"))(Seq.empty[(Long, String)].toDF("id", "v"))
      assert(e.count() == 0 && e.columns.toSeq == Seq("id", "v"))
      graft.plans.SharedState.reset()
      val e2 = graft.plans.SharedState.cachedDf(spark, "spec.empty", corpus,
        Seq("input.parquet"))(sys.error("must not rebuild"))
      assert(e2.count() == 0 && e2.columns.toSeq == Seq("id", "v"))
    } finally {
      spark.conf.unset("spark.graft.artifacts.dir")
      graft.plans.SharedState.reset()
    }
  }

  test("reset clears every entry") {
    graft.plans.SharedState.reset()
    val a = graft.plans.SharedState.cached(spark, "spec.r", "/d")(build("a"))
    graft.plans.SharedState.reset()
    val b = graft.plans.SharedState.cached(spark, "spec.r", "/d")(build("b"))
    assert(!(b eq a))
  }
  test("SharedDedup artifacts memoize per (app, dir, family) and the LM models per (app, dir)") {
    graft.plans.SharedState.reset()
    import graft.queries.{DedupOps, HashFamily}
    val a = DedupOps.SharedDedup.pairs(spark, sf, HashFamily.Md5)
    val b = DedupOps.SharedDedup.pairs(spark, sf, HashFamily.Md5)
    assert(a eq b, "confirmed-pair artifact must be built once per (app, dir, family)")
    val x = DedupOps.SharedDedup.pairs(spark, sf, HashFamily.Xxh64)
    assert(!(x eq a), "the xxh64 path must never share the md5 artifact")
    val s1 = DedupOps.SharedDedup.simPairs(spark, sf)
    val s2 = DedupOps.SharedDedup.simPairs(spark, sf)
    assert(s1 eq s2, "simhash-pair artifact must be built once")
    assert(!(DedupOps.SharedDedup.simPairs(spark, sf, maxHamming = 2) eq s1),
      "a different maxHamming must key its own artifact")
    graft.plans.SharedState.reset()
  }
}
