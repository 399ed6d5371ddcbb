package graft.operators

import graft.core.SparkTestBase
import graft.queries.Staged

/** The session lifecycle contract of [[CacheTracker]]: one sweep frees
  * everything pinned in a session — staged DcaFrame sort caches,
  * operator-internal persists and truncations, iterative-operator
  * results — and evicts the memo with it, so the next staged access
  * rebuilds instead of serving a frame whose blocks are gone.
  */
class CacheLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees every frame pinned in the session and evicts the memo") {
    CacheTracker.release(spark) // earlier suites may have staged liFrame already
    val before = persistentIds
    val key = s"li:$dir"
    val li = Staged.liFrame(spark, dir)
    assert(li.staging.isDefined)
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val docs = Seq(1L -> base, 2L -> base.replace("lazy", "sleepy"),
      3L -> "completely different content with no overlap whatsoever at all " * 5)
      .toDF("doc_id", "text")
    // one persist (the shingle table) and one truncation (the band table)
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id")
    assert(pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq == Seq(1L -> 2L))
    val labels = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
    assert(labels.as[(Long, Long)].collect().toSet == Set(1L -> 1L, 2L -> 1L))

    val pinned = persistentIds -- before
    // the staged sort cache, the shingle persist, the band table and
    // the CC result (plus its edge table, already freed in-operator)
    assert(pinned.size >= 4, s"expected at least 4 pinned RDDs, saw $pinned")

    CacheTracker.release(spark)
    val left = pinned.intersect(persistentIds)
    assert(left.isEmpty, s"release left pinned RDDs behind: $left")

    Staged.stagingByKey.remove(key)
    val rebuilt = Staged.liFrame(spark, dir)
    assert(Staged.stagingByKey.contains(key), "liFrame was served from the memo, not rebuilt")
    assert(!(rebuilt eq li))
    val stagedRdds = persistentIds -- before
    assert(stagedRdds.nonEmpty && stagedRdds.intersect(pinned).isEmpty,
      "the rebuilt frame must sit on a fresh staged cache")
    assert(rebuilt.size == li.size)
  }

  test("pinnedBytes counts the session's materialized pins and drops to 0 on release") {
    CacheTracker.release(spark)
    assert(CacheTracker.pinnedBytes(spark) == 0L)
    val cached = CacheTracker.persist(spark.range(0, 20000).selectExpr("id", "id * 3 AS v"))
    assert(CacheTracker.pinnedBytes(spark) == 0L, "a persist that never ran holds no blocks")
    assert(cached.count() == 20000L)
    val persisted = CacheTracker.pinnedBytes(spark)
    assert(persisted > 0L)
    CacheTracker.truncate(spark.range(0, 20000).toDF("id"))
    assert(CacheTracker.pinnedBytes(spark) > persisted, "a local checkpoint's blocks count too")
    CacheTracker.release(spark)
    assert(CacheTracker.pinnedBytes(spark) == 0L)
  }
}
