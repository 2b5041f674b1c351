package graft

import graft.catalog.TableRegistry
import graft.pipeline.AnalysisPipeline
import graft.profile.Profiler
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The memo registry's policy: data identity, single flight, retry after a
  * failed build, nesting, cleanup. */
class MemoSpec extends SparkSpec {

  private def copyFixtures(): Path = {
    val dir = Files.createTempDirectory("memo_spec_sf")
    TableRegistry.tableNames.foreach { n =>
      Files.copy(java.nio.file.Paths.get(TableRegistry.path(sfDir, n)),
        dir.resolve(s"$n.parquet"))
    }
    dir
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(c => deleteTree(c))
    Files.deleteIfExists(p)
  }

  test("an input rewritten in place is recomputed, not served stale") {
    val dir = copyFixtures()
    val sf = dir.toString
    val staging = Files.createTempDirectory("memo_spec_rewrite")
    try {
      val before = TableRegistry.table(spark, sf, "lineitem").count()
      val profBefore = AnalysisPipeline.profilesFor(spark, sf, approxCardinality = false)
        .filter(_.view == "lineitem")
      AnalysisPipeline.scores(spark, sf).count()

      // rewrite lineitem.parquet in place with a different row set
      spark.read.parquet(TableRegistry.path(sfDir, "lineitem"))
        .where("l_orderkey % 3 = 0").coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("out").toString)
      val part = Files.list(staging.resolve("out")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)

      val fresh = spark.read.parquet(dir.resolve("lineitem.parquet").toString)
      val after = TableRegistry.table(spark, sf, "lineitem").count()
      assert(after == fresh.count())
      assert(after < before)
      val profAfter = AnalysisPipeline.profilesFor(spark, sf, approxCardinality = false)
        .filter(_.view == "lineitem")
      assert(profAfter == Profiler.profile(spark, "lineitem", fresh))
      assert(profAfter != profBefore)
      assert(profAfter.forall(_.totalCount == after))
      val li = AnalysisPipeline.scores(spark, sf).where("view = 'lineitem'").count()
      assert(li == profAfter.size)
    } finally { deleteTree(staging); deleteTree(dir) }
  }

  test("a nested build sharing the outer key's hash bin succeeds") {
    // "Aa" and "BB" have equal String hash codes, so the two keys (same
    // session, same inputs) hash identically and share a bin at every
    // table size: a computeIfAbsent-style memo dies here with
    // "Recursive update"
    assert("nested:Aa".hashCode == "nested:BB".hashCode)
    val s = spark.newSession()
    val out = Memo(s, "nested:Aa", Nil)(Memo(s, "nested:BB", Nil)(41) + 1)
    assert(out == 42)
    assert(Memo(s, "nested:BB", Nil)(fail("must not rebuild"): Int) == 41)
  }

  test("concurrent callers of one key run the build once") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          Memo(s, "single-flight", Nil) {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdown()
  }

  test("a build that throws is not cached: the next caller builds again") {
    val s = spark.newSession()
    val e = intercept[IllegalStateException] {
      Memo[Int](s, "retry", Nil)(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(Memo(s, "retry", Nil)(7) == 7)
    assert(Memo(s, "retry", Nil)(fail("must not rebuild"): Int) == 7)
  }

  test("clear unpersists every frame the registry persisted") {
    import spark.implicits._
    val s = spark.newSession()
    val own = Memo.frame(s, Some(sfDir), "clear-test") {
      Seq(1, 2, 3).toDF("v").where("v > 0")
    }
    val assigned = ext.SimSearch.assignClusters(
      TableRegistry.table(s, sfDir, "embeddings"), 8, Some(sfDir))
    val pairs = ext.SimSearch.annPairsMemo(s, sfDir)
    val frames = Seq(own, assigned, pairs)
    frames.foreach(_.count())
    assert(frames.forall(_.storageLevel != StorageLevel.NONE))
    Memo.clear(s)
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
  }
}
