package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Caches

/** The caching contract of [[graft.core.Caches]]: `keep` persists a
  * frame at the one storage level and registers it; the registry is an
  * LRU of 4 keys' working sets, same-plan frames shared across keys,
  * recency refreshed on re-registration. The `retain:` tests cover that
  * retention rule through `keep`. A source scan pins `Caches` as the
  * only place that names a storage level or caches a frame (a bare
  * `persist()` or `.cache()` fails it). Every test uses fresh keys
  * and fresh plans; releaseAll is a session boundary and is never
  * called here (the session is shared by every suite).
  */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  private def plain(tag: String): DataFrame =
    (1 to 10).toDF("v").withColumn("tag", lit(tag))

  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE

  test("retain: a 5th key unpersists the least-recent key's frames") {
    val frames = (1 to 5).map { i =>
      Caches.keep(s"cachesspec-lru-$i", plain(s"cachesspec-lru-$i"))
    }
    assert(!cached(frames.head), "least-recent key must be released")
    assert(frames.tail.forall(cached), "the other four keys stay cached")
  }

  test("retain: a same-plan frame under two keys outlives one key's eviction") {
    // same plan under both keys: one CacheManager entry
    val a = Caches.keep("cachesspec-shared-a", plain("cachesspec-shared"))
    val b = Caches.keep("cachesspec-shared-b", plain("cachesspec-shared"))
    (1 to 3).foreach { i =>
      Caches.keep(s"cachesspec-shared-$i", plain(s"cachesspec-shared-$i"))
    }
    // key a is evicted; key b still retains the plan
    assert(cached(a) && cached(b))
    assert(a.count() == 10)
    Caches.keep("cachesspec-shared-4", plain("cachesspec-shared-4"))
    // now key b is evicted too, and no set retains the plan
    assert(!cached(a) && !cached(b))
  }

  test("retain: re-retaining a key refreshes its recency") {
    val frames = (1 to 4).map { i =>
      Caches.keep(s"cachesspec-recency-$i", plain(s"cachesspec-recency-$i"))
    }
    Caches.keep("cachesspec-recency-1", frames.head)
    Caches.keep("cachesspec-recency-5", plain("cachesspec-recency-5"))
    assert(cached(frames.head), "the refreshed key must survive")
    assert(!cached(frames(1)), "the least-recent key is now key 2")
    assert(frames.drop(2).forall(cached))
  }

  test("keep: returns the frame persisted at MEMORY_AND_DISK") {
    val f = plain("cachesspec-keep-level")
    val kept = Caches.keep("cachesspec-keep-level", f)
    assert(kept eq f)
    assert(kept.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Caches.level == StorageLevel.MEMORY_AND_DISK)
  }

  test("keep: a same-plan frame kept twice under one key holds one slot") {
    val key = "cachesspec-keep-dedup"
    val a = Caches.keep(key, plain(key))
    val x1 = Caches.keep(key, plain(s"$key-1"))
    val b = Caches.keep(key, plain(key)) // same plan as `a`
    (2 to 16).foreach(i => Caches.keep(key, plain(s"$key-$i")))
    // 17 plans under the 16-frame bound: only the oldest, a's plan, is
    // dropped. A second entry for `b` would have pushed x1 out instead.
    assert(!cached(a) && !cached(b), "the oldest plan is released")
    assert(cached(x1), "the repeated plan must not take a second slot")
  }

  test("Caches is the only code in src/main that names a storage level") {
    // a bare persist() or cache() picks Spark's default level without
    // naming it, and registers nothing
    val patterns = Seq("""MEMORY_AND_DISK""", """\bStorageLevel\.\w+""",
      """\.persist\(\s*\)""", """\.cache\(\s*\)""").map(_.r)
    // OrderStats tests `storageLevel == NONE` to see whether its input
    // is already cached
    val allowed = Map(
      "OrderStats.scala" -> Seq("org.apache.spark.storage.StorageLevel.NONE"))
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root")
    val files = java.nio.file.Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Caches.scala")
        .flatMap { f =>
          val ok = allowed.getOrElse(f.getFileName.toString, Nil)
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
            .filterNot { case (line, _) =>
              line.trim.startsWith("*") || line.trim.startsWith("/*") }
            .collect { case (line, i)
                if patterns.exists(_.findFirstIn(
                  ok.foldLeft(line.replaceAll("//.*$", ""))(_.replace(_, ""))).nonEmpty) =>
              s"$f:${i + 1}: ${line.trim}" }
        }.toList
    } finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
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
