package graft.queries

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The session-memo contracts behind the m00/t00 bench preludes
  * (TextQueries.bigramCounts / bpeWordCounts / bpeMerges,
  * EventQueries.mediaPairs):
  *
  *   1. train-once ≡ train-per-consumer — the memoized BPE model must
  *      be bit-identical to a fresh `BpeLearn.learnMerges` run, and the
  *      memoized frames identical to their inline builds, or the memo
  *      would silently change oracle rows;
  *   2. identity — consumers get the SAME persisted frame / model
  *      object back (the whole point: one materialization);
  *   3. evict really drops — after evict(dir) a fresh object is built.
  *      Bench's honest-timing recipe (evict between prelude build
  *      samples, evict after the sf0.001 warm-up) depends on this: if
  *      evict leaked, every "build" after the first would be a memo
  *      hit and the prelude timings fiction;
  *   4. the shared Memo's own contracts: one build per key under
  *      concurrency, evict scoped to (session, dir), evicted frames
  *      unpersisted, and Memo.evictAll emptying every owner.
  */
class MemoSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bpeMerges memo: identical to a fresh training run, served once, evictable") {
    TextQueries.evict(spark, dir)
    val served = TextQueries.bpeMerges(spark, dir)
    // fresh, un-memoized training on the same corpus
    val fresh = graft.ops.BpeLearn.learnMerges(
      graft.ops.BpeLearn.wordCounts(Tables(spark, dir, "documents"), "text"), 8)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(served === fresh)
    // same model object on re-request (memo hit, not a re-train)
    assert(TextQueries.bpeMerges(spark, dir) eq served)
    TextQueries.evict(spark, dir)
    val retrained = TextQueries.bpeMerges(spark, dir)
    assert(retrained !== null)
    assert(retrained === fresh) // deterministic re-train
    TextQueries.evict(spark, dir)
  }

  test("bigramCounts memo: identical to the inline build, same frame served, evictable") {
    TextQueries.evict(spark, dir)
    val served = TextQueries.bigramCounts(spark, dir)
    val cs = split(regexp_replace(lower(col("text")), "[^a-z ]", ""), "")
    val n1 = length(regexp_replace(lower(col("text")), "[^a-z ]", "")) - 1
    val inline = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(zip_with(
        slice(cs, lit(1), greatest(n1, lit(0))), slice(cs, lit(2), greatest(n1, lit(0))),
        (a, b) => concat(a, b))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
    assert(served.orderBy("doc_id", "g").collect()
      === inline.orderBy("doc_id", "g").collect())
    assert(TextQueries.bigramCounts(spark, dir) eq served)
    TextQueries.evict(spark, dir)
    assert(!(TextQueries.bigramCounts(spark, dir) eq served))
    TextQueries.evict(spark, dir)
  }

  test("mediaPairs memo: served once, evict rebuilds, m03 rows unchanged") {
    EventQueries.evict(spark, dir)
    val served = EventQueries.mediaPairs(spark, dir)
    assert(EventQueries.mediaPairs(spark, dir) eq served)
    // m03's presentation over the memo matches the committed-fixture
    // shape: pair keys strictly ordered, cosine at/above the threshold
    val rows = EventQueries.queries("m03_media_neardup")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.999))
    EventQueries.evict(spark, dir)
    assert(!(EventQueries.mediaPairs(spark, dir) eq served))
    EventQueries.evict(spark, dir)
  }

  test("Memo: two threads asking for the same key run the build once") {
    val m = Memo[Int]()
    val builds = new AtomicInteger()
    val served = new ConcurrentLinkedQueue[Int]()
    val go = new CountDownLatch(1)
    val threads = (1 to 2).map(_ => new Thread(() => {
      go.await()
      served.add(m(spark, dir, "k") { builds.incrementAndGet(); Thread.sleep(200); 7 })
      ()
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(builds.get === 1)
    assert(served.toArray.toSeq === Seq(7, 7))
    m.evictAll(spark)
  }

  test("Memo.evict(s, dir) keeps the entries of other dirs") {
    val m = Memo.frames()
    m(spark, "a", "f")(spark.range(10).toDF())
    val b = m(spark, "b", "f")(spark.range(20).toDF())
    m.evict(spark, "a")
    assert(m(spark, "b", "f")(fail("dir b was rebuilt")) eq b)
    assert(b.storageLevel !== StorageLevel.NONE)
    assert(m.size(spark) === 1)
    m.evictAll(spark)
  }

  test("Memo.evict(s, dir) keeps another session's entries") {
    val other = spark.newSession()
    val m = Memo.frames()
    val mine = m(spark, dir, "f")(spark.range(10).toDF())
    // a different plan: sessions of one context share the cache manager,
    // so unpersisting a frame also uncaches another session's identical plan
    val theirs = m(other, dir, "f")(other.range(11).toDF())
    assert(!(mine eq theirs))
    m.evict(spark, dir)
    assert(m(other, dir, "f")(fail("the other session's entry was rebuilt")) eq theirs)
    assert(theirs.storageLevel !== StorageLevel.NONE)
    m.evictAll(other)
  }

  test("Memo.evict unpersists the evicted frame") {
    val m = Memo.frames()
    val df = m(spark, dir, "f")(spark.range(10).toDF())
    assert(df.storageLevel !== StorageLevel.NONE)
    m.evict(spark, dir)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("Memo.evictAll empties every owner and deletes x20's artifact directory") {
    val preludes = Seq(DedupQueries.prelude, EventQueries.prelude, TextQueries.prelude,
      ExtraQueries.prelude, GraphQueries.prelude)
    preludes.foreach(_.parts(spark, dir).foreach(_._2()))
    val owners = Seq(DedupQueries.memo, Quantizer.memo, GraphQueries.memo,
      TextQueries.memo, TextQueries.bpeMemo, EventQueries.memo, ExtraQueries.mmMemo)
    assert(owners.forall(_.size(spark) > 0))
    val artifactDir = new java.io.File(ExtraQueries.mmArtifact(spark, dir)).getParentFile
    assert(artifactDir.isDirectory)
    Memo.evictAll(spark)
    assert(owners.map(_.size(spark)) === owners.map(_ => 0))
    assert(!artifactDir.exists())
  }
}
