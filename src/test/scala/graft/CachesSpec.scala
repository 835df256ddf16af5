package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Caches

/** The retention contract of [[graft.core.Caches.retain]]: an LRU of 4
  * keys' working sets, same-plan frames shared across keys, recency
  * refreshed on re-registration. Every test uses fresh keys and fresh
  * plans; releaseAll is a session boundary and is never called here
  * (the session is shared by every suite).
  */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  private def frame(tag: String): DataFrame =
    (1 to 10).toDF("v").withColumn("tag", lit(tag))
      .persist(StorageLevel.MEMORY_AND_DISK)

  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE

  test("retain: a 5th key unpersists the least-recent key's frames") {
    val frames = (1 to 5).map { i =>
      val f = frame(s"cachesspec-lru-$i")
      Caches.retain(s"cachesspec-lru-$i", f)
      f
    }
    assert(!cached(frames.head), "least-recent key must be released")
    assert(frames.tail.forall(cached), "the other four keys stay cached")
  }

  test("retain: a same-plan frame under two keys outlives one key's eviction") {
    val a = frame("cachesspec-shared")
    val b = frame("cachesspec-shared") // same plan, one CacheManager entry
    Caches.retain("cachesspec-shared-a", a)
    Caches.retain("cachesspec-shared-b", b)
    (1 to 3).foreach { i =>
      Caches.retain(s"cachesspec-shared-$i", frame(s"cachesspec-shared-$i"))
    }
    // key a is evicted; key b still retains the plan
    assert(cached(a) && cached(b))
    assert(a.count() == 10)
    Caches.retain("cachesspec-shared-4", frame("cachesspec-shared-4"))
    // now key b is evicted too, and no set retains the plan
    assert(!cached(a) && !cached(b))
  }

  test("retain: re-retaining a key refreshes its recency") {
    val frames = (1 to 4).map { i =>
      val f = frame(s"cachesspec-recency-$i")
      Caches.retain(s"cachesspec-recency-$i", f)
      f
    }
    Caches.retain("cachesspec-recency-1", frames.head)
    Caches.retain("cachesspec-recency-5", frame("cachesspec-recency-5"))
    assert(cached(frames.head), "the refreshed key must survive")
    assert(!cached(frames(1)), "the least-recent key is now key 2")
    assert(frames.drop(2).forall(cached))
  }

  test("queries on localCheckpoint and PrefixScan rebuild to identical rows") {
    // No releaseAll between the builds: each build checkpoints and scans
    // afresh while the first build's blocks are still live.
    Seq("q121_spearman", "q148_pagerank", "q177_ccf").foreach { name =>
      def rows = SparkEntry.queries(name)(spark, sf).collect()
        .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      val first = rows
      assert(first.nonEmpty, s"$name returned no rows")
      assert(rows == first, s"$name: second build differs from the first")
    }
  }
}
