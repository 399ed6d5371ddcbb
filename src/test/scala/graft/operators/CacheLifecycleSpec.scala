package graft.operators

import org.apache.spark.sql.functions.{col, shiftrightunsigned}

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

  /** Run `body` and return what it pinned: the RDDs it added to the
    * context's persistent set.
    */
  private def pinsOf[A](body: => A): (A, Set[Int]) = {
    val before = persistentIds
    val a = body
    (a, persistentIds -- before)
  }

  test("release frees every frame pinned in the session and evicts the memo") {
    CacheTracker.release(spark) // earlier suites may have staged liFrame already
    val before = persistentIds
    val key = s"li:$dir"
    val (li, liPins) = pinsOf(Staged.liFrame(spark, dir))
    assert(li.staging.isDefined)
    assert(liPins.size == 1, s"liFrame should pin its sort cache only, saw $liPins")
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val docs = Seq(1L -> base, 2L -> base.replace("lazy", "sleepy"),
      3L -> "completely different content with no overlap whatsoever at all " * 5)
      .toDF("doc_id", "text")
    // nearDupPairs pins its shingle table and nothing else: the band
    // rows are a projection of it
    val (pairs, ndPins) = pinsOf {
      val p = Dedup.nearDupPairs(docs, "text", "doc_id")
      assert(p.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq == Seq(1L -> 2L))
      p
    }
    assert(ndPins.size == 1, s"nearDupPairs should pin exactly one RDD, saw $ndPins")
    // connectedComponents keeps its result; its edge table and earlier
    // rounds are freed in-operator
    val (_, ccPins) = pinsOf {
      val labels = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
      assert(labels.as[(Long, Long)].collect().toSet == Set(1L -> 1L, 2L -> 1L))
    }
    assert(ccPins.size == 1, s"connectedComponents should pin its result only, saw $ccPins")

    val pinned = persistentIds -- before
    assert(pinned == liPins ++ ndPins ++ ccPins, s"expected 3 pinned RDDs, saw $pinned")

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

  test("each near-dup admission call pins exactly one frame until release") {
    CacheTracker.release(spark)
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val corpus = Seq(1L -> base, 2L -> "an unrelated corpus article about rivers and weather " * 4)
      .toDF("doc_id", "text")
    def batch(id: Long) = Seq(id -> (base + " recrawl banner"),
      (id + 1) -> s"a genuinely new piece of writing number $id about spacecraft telemetry " * 4)
      .toDF("doc_id", "text")
    val incoming = batch(10L)
    def survivors(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().toSet
    // a long-lived session accumulates one frame per batch until release
    // (a repeated identical call shares the first call's cache entry)
    val calls = Seq(10L, 20L).map(id => id -> pinsOf(survivors(
      Dedup.incrementalNearDupSurvivors(corpus, batch(id), "text", "doc_id"))))
    calls.foreach { case (id, (out, pins)) =>
      assert(out == Set(id + 1))
      assert(pins.size == 1, s"incrementalNearDupSurvivors should pin one frame per call, saw $pins")
    }
    val idx = java.nio.file.Files.createTempDirectory("graft-ndidx-").toString
    val (_, buildPins) = pinsOf(Dedup.buildNearDupIndex(corpus, idx, "text", "doc_id"))
    assert(buildPins.isEmpty, s"buildNearDupIndex left pins behind: $buildPins")
    val (indexed, idxPins) = pinsOf(survivors(
      Dedup.indexedNearDupSurvivors(spark, idx, incoming, "text", "doc_id")))
    assert(indexed == Set(11L))
    assert(idxPins.size == 1, s"indexedNearDupSurvivors should pin one frame per call, saw $idxPins")
    val pinned = calls.flatMap(_._2._2).toSet ++ idxPins
    CacheTracker.release(spark)
    assert(pinned.intersect(persistentIds).isEmpty, "release left admission pins behind")
  }

  test("a staged SimHash sketch table is the one frame it pins over the shingles") {
    CacheTracker.release(spark)
    val (_, shPins) = pinsOf(Staged.docShingles(spark, dir))
    assert(shPins.size == 1, s"docShingles should pin one frame, saw $shPins")
    // the per-shingle hash rows feed only the vote aggregation, so the
    // sketch table is the only new pin
    val (sims, simPins) = pinsOf(Staged.docSimhash60(spark, dir))
    assert(simPins.size == 1, s"docSimhash60 should pin exactly one RDD, saw $simPins")
    assert(sims.count() > 0)
    assert(sims.filter(shiftrightunsigned(col("__sim"), 60) =!= 0L).isEmpty,
      "portable-hash sketches must leave bits 60-63 clear")
    CacheTracker.release(spark)
    assert((shPins ++ simPins).intersect(persistentIds).isEmpty, "release left SimHash pins behind")
  }

  test("ngramJaccardPairs pins its set table and its prefix leaf per call") {
    CacheTracker.release(spark)
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    def shingled(id: Long) = Seq(id -> base, (id + 1) -> base.replace("lazy", "sleepy"),
      (id + 2) -> s"completely different content number $id with no overlap at all " * 5)
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh"))
    val calls = Seq(10L, 20L).map(id => id -> pinsOf(
      Dedup.ngramJaccardPairs(shingled(id), "doc_id", "__sh", 2, 5)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq))
    calls.foreach { case (id, (pairs, pins)) =>
      assert(pairs == Seq(id -> (id + 1)))
      assert(pins.size == 2, s"ngramJaccardPairs should pin its set table and prefix leaf, saw $pins")
    }
    val pinned = calls.flatMap(_._2._2).toSet
    CacheTracker.release(spark)
    assert(pinned.intersect(persistentIds).isEmpty, "release left n-gram Jaccard pins behind")
  }
}
