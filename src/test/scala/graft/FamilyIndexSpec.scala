package graft

import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FamilyIndex

/** Contract pins for the family memo registry (r9): build-once,
  * supersede-and-release, self-heal, for both the relation and the
  * driver-value kind, plus the operators' prebuild hooks. Uses
  * throwaway memo names so it never collides with the operators' real
  * entries. */
class FamilyIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001" // TESTDATA.md

  /** Distinct tag per build: Dataset.storageLevel (and unpersist) are
    * PLAN-keyed in the CacheManager, so two builds of an identical
    * plan would alias one cache entry and the assertions below would
    * observe the wrong entry. Real family builds re-read a parquet
    * path whose files changed, so their rebuilt plans never alias the
    * superseded entry's data either. Returned unpersisted: the
    * registry persists and counts a relation build. */
  private def freshIndex(s: SparkSession, tag: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    s.range(100).toDF("id").withColumn("tag", lit(tag))
  }

  /** A fixture directory for memos over table `t`; no build reads it,
    * only its fingerprint matters. */
  private def fixture(): String = {
    val dir = Files.createTempDirectory("graft_famidx").toString
    regenerate(dir)
    dir
  }

  /** Rewrite the fixture in place: one byte longer, so the
    * fingerprint changes regardless of mtime granularity. */
  private def regenerate(dir: String): Unit =
    Files.write(java.nio.file.Paths.get(dir, "t.parquet"), Array[Byte](0),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  test("same (family, session, fingerprint) builds once and serves the cached relation") {
    var builds = 0
    val memo = FamilyIndex.relation("spec-family-a", "t") { (s, _) =>
      builds += 1; freshIndex(s, s"a$builds")
    }
    val dir = fixture()
    val a = memo(spark, dir); val b = memo(spark, dir)
    assert(builds === 1, "second access rebuilt an unchanged index")
    assert(a eq b, "second access served a different object")
    assert(b.storageLevel != StorageLevel.NONE, "served index not cached")
  }

  test("a changed fingerprint supersedes: old blocks released, new index served") {
    var builds = 0
    val memo = FamilyIndex.relation("spec-family-b", "t") { (s, _) =>
      builds += 1; freshIndex(s, s"b$builds")
    }
    val dir = fixture()
    val old = memo(spark, dir)
    regenerate(dir)
    val next = memo(spark, dir)
    assert(builds === 2, "regenerated fingerprint did not rebuild")
    assert(!(old eq next), "superseded entry still served")
    assert(old.storageLevel == StorageLevel.NONE,
      "superseded index's blocks were not released — the N-regenerations leak")
    assert(next.storageLevel != StorageLevel.NONE)
  }

  test("release(session) retires a clone's memos without touching its siblings'") {
    // Session clones share one SparkContext, so the isStopped purge
    // never fires for an abandoned clone — release() is the lane-
    // retirement hook (r9 ADVICE). The clone's entries must drop AND
    // unpersist; the parent session's entry must survive untouched.
    val clone = spark.newSession()
    var builds = 0
    val memo = FamilyIndex.relation("spec-family-d", "t") { (s, _) =>
      builds += 1; freshIndex(s, s"d$builds")
    }
    val dir = fixture()
    val parentIdx = memo(spark, dir)
    val cloneIdx = memo(clone, dir)
    assert(!(parentIdx eq cloneIdx), "clone shared the parent's entry — keying broke")
    val before = FamilyIndex.liveCount
    val released = FamilyIndex.release(clone)
    assert(released === 1, s"expected exactly the clone's one entry, got $released")
    assert(FamilyIndex.liveCount === before - 1)
    assert(cloneIdx.storageLevel == StorageLevel.NONE,
      "released clone index still holds persisted blocks")
    assert(parentIdx.storageLevel != StorageLevel.NONE,
      "release(clone) dropped the parent session's blocks")
    // A later access by the clone self-heals by rebuilding, not by
    // serving a retired relation.
    val again = memo(clone, dir)
    assert(builds === 3 && !(again eq cloneIdx))
    FamilyIndex.release(clone)
  }

  test("corpus regeneration invalidates EVERY family memo: no stale cross-serve, no block leak") {
    // End-to-end over the REAL dedup families (r10 verdict item 6):
    // the memos key individually by (name, fingerprint), so the
    // contract that one corpus rewrite invalidates ALL of them is
    // emergent, not structural — prove it by running the memo-backed
    // queries, rewriting the corpus files in place, and re-running.
    // Stale cross-serve would reproduce the first run's numbers
    // exactly; a leak would grow the materialized-entry count.
    import org.apache.spark.sql.functions.{col, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft_famregen").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.write.mode("overwrite").parquet(dir + "/documents.parquet")
    val embs = graft.sources.Tables.embeddings(spark, sf)
    embs.write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    // q22 builds the minhash-sig memo; q154 builds ssjoin-universe/
    // prefix/docsigs; q133 builds ivf-assign — five relation memos
    // over the temp corpus — and, behind ivf-assign, the
    // kmeans-centroids value memo, which the regeneration supersedes
    // by the same fingerprint rule (a stale one would misassign).
    def run(): (Long, Long, Long, Long) = try {
      (SparkEntry.queries("q22_minhash_lsh")(spark, dir).count(),
        SparkEntry.queries("q154_prefix_ssjoin")(spark, dir).count(),
        SparkEntry.queries("q21_exact_dedup")(spark, dir).count(),
        SparkEntry.queries("q133_semdedup")(spark, dir)
          .agg(sum("n_members")).collect()(0).getLong(0))
    } finally graft.functions.CacheScope.drain()
    val before = run()
    val matBefore = FamilyIndex.liveMaterializedCount(spark)
    assert(matBefore >= 5, s"expected the 5 family memos live, saw $matBefore")
    Thread.sleep(1100) // defeat mtime granularity in the fingerprint
    docs.filter(col("doc_id") < 250)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    embs.filter(col("vec_id") < 250)
      .write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    val after = run()
    // q21's report is one row per surviving doc — deterministic 250 on
    // the regenerated half-corpus; a stale memo would still say 500.
    assert(after._3 === 250L,
      s"q21 reported ${after._3} docs after regeneration — stale memo serve")
    // q133's membership rollup counts every cosine-space vector once:
    // a stale ivf-assign (or centroid) memo would still roll up the
    // full 500-vector corpus.
    assert(after._4 <= 250L && after._4 > 0L,
      s"q133 rolled up ${after._4} members after regeneration — stale ivf-assign serve")
    assert(after !== before, "regenerated corpus reproduced old results")
    val matAfter = FamilyIndex.liveMaterializedCount(spark)
    assert(matAfter === matBefore,
      s"superseded family blocks leaked: $matBefore -> $matAfter")
  }

  test("self-heal: an externally unpersisted index is rebuilt, never served uncached") {
    var builds = 0
    val memo = FamilyIndex.relation("spec-family-c", "t") { (s, _) =>
      builds += 1; freshIndex(s, s"c$builds")
    }
    val dir = fixture()
    val served = memo(spark, dir)
    served.unpersist(blocking = true) // simulate a harness clearCache()
    val healed = memo(spark, dir)
    assert(builds === 2, "uncached index was served instead of rebuilt")
    assert(healed.storageLevel != StorageLevel.NONE, "healed index not cached")
  }

  test("a value memo is built once per (name, session, fingerprint)") {
    var builds = 0
    val memo = FamilyIndex.value("spec-value-a", "t") { (_, _) =>
      builds += 1; Seq(builds.toDouble)
    }
    val dir = fixture()
    val a = memo(spark, dir); val b = memo(spark, dir)
    assert(builds === 1, "second access rebuilt an unchanged value")
    assert(a eq b, "second access served a different object")
    val clone = spark.newSession()
    try {
      val c = memo(clone, dir)
      assert(builds === 2 && !(c eq a), "a clone session shared the parent's value")
    } finally FamilyIndex.release(clone)
  }

  test("a changed fingerprint replaces a value entry: liveCount does not grow") {
    var builds = 0
    val memo = FamilyIndex.value("spec-value-b", "t") { (_, _) =>
      builds += 1; Seq(builds.toDouble)
    }
    val dir = fixture()
    memo(spark, dir)
    val live = FamilyIndex.liveCount
    for (_ <- 1 to 3) { regenerate(dir); memo(spark, dir) }
    assert(builds === 4, "a regenerated fingerprint served the stale value")
    assert(memo(spark, dir) === Seq(4.0))
    assert(FamilyIndex.liveCount === live,
      "superseded values accumulated — one entry per fingerprint, forever")
  }

  test("release(clone) drops the clone's values and leaves the parent's alone") {
    var builds = 0
    val memo = FamilyIndex.value("spec-value-c", "t") { (_, _) =>
      builds += 1; Seq(builds.toDouble)
    }
    val dir = fixture()
    val clone = spark.newSession()
    val parentVal = memo(spark, dir)
    memo(clone, dir)
    assert(FamilyIndex.release(clone) === 1, "release(clone) missed the clone's value")
    assert(!FamilyIndex.liveNames(clone).contains("spec-value-c"))
    assert(memo(spark, dir) eq parentVal, "release(clone) dropped the parent's value")
    assert(builds === 2)
    memo(clone, dir)
    assert(builds === 3, "a released clone value was served instead of rebuilt")
    FamilyIndex.release(clone)
  }

  test("liveMaterializedCount ignores values") {
    val memo = FamilyIndex.value("spec-value-d", "t")((_, _) => Seq(1.0))
    val (live, mat) = (FamilyIndex.liveCount, FamilyIndex.liveMaterializedCount(spark))
    memo(spark, fixture())
    assert(FamilyIndex.liveCount === live + 1)
    assert(FamilyIndex.liveMaterializedCount(spark) === mat,
      "a driver value was counted as persisted executor storage")
  }

  test("prebuild serves all 14 memos, is free the second time, and leaves no build intermediate") {
    val sc = spark.sparkContext
    def prebuild(): Seq[String] =
      graft.operators.Dedup.prebuildIndexes(spark, sf) ++
        graft.operators.Similarity.prebuildIndexes(spark, sf) ++
        graft.operators.TextAnalysis.prebuildIndexes(spark, sf)
    // Start from no memos, so every build runs and is counted below.
    FamilyIndex.release(spark)
    val rdds0 = sc.getPersistentRDDs.size
    val mat0 = FamilyIndex.liveMaterializedCount(spark)
    val names = prebuild()
    assert(names === Seq(
      "minhash-sig", "minhash-cand", "cc-labels", "overlap-pairs", "ssjoin-universe",
      "ssjoin-prefix", "ssjoin-docsigs", "shingle-docsigs", "span-dup",
      "kmeans-centroids", "maint-centroids", "pq-codebooks", "ivf-assign",
      "bpe-merges"))
    assert(names.toSet.subsetOf(FamilyIndex.liveNames(spark)))
    // Bench's SPARK_GRAFT_CACHE_AUDIT rule: every persistent RDD the
    // prebuild added is a materialized relation memo — no overlap
    // bucket, CC edge list or BPE vocabulary cache left behind.
    val newMat = FamilyIndex.liveMaterializedCount(spark) - mat0
    assert(newMat === 10, "expected the 10 relation memos materialized")
    assert(sc.getPersistentRDDs.size - rdds0 === newMat,
      "a build intermediate outlived its memo build")
    // A second prebuild serves every memo: no Spark job at all.
    val (again, jobs) = JobFence(sc)(prebuild())
    assert(again === names)
    assert(jobs === 0, s"the second prebuild ran $jobs Spark job(s)")
  }
}
