package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.IterCache

/** Contract of the lane-scoped substrate cache: a frame persisted inside
  * a scope is cached and materialized for the scope's length and
  * unpersisted when it exits (also on a throw), an unpersisted frame
  * still computes, and a lane run under a scope leaves nothing in the
  * session's cache.
  */
class IterCacheSpec extends AnyFunSuite with SparkTestBase {

  // distinct sizes per test: Spark's cache is PLAN-keyed, so identical
  // frames would share one storage entry and alias the assertions
  private def frame(n: Int) =
    spark.range(n).select(col("id").as("u"), (col("id") * 2).as("v"))

  test("persist caches a frame inside a scope; the scope's exit unpersists it") {
    val df = frame(10)
    assert(df.storageLevel === StorageLevel.NONE)
    val inside = IterCache.scope {
      val p = IterCache.persist(df)
      assert(p eq df)
      p.storageLevel
    }
    assert(inside !== StorageLevel.NONE)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("a scope unpersists its frames when its body throws") {
    val df = frame(11)
    intercept[IllegalStateException] {
      IterCache.scope {
        IterCache.persist(df)
        throw new IllegalStateException("lane failed")
      }
    }
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("an unpersisted frame still computes") {
    val df = IterCache.scope(IterCache.persist(frame(501)))
    assert(df.storageLevel === StorageLevel.NONE)
    assert(df.count() === 501L)
    assert(df.agg(sum(col("v"))).head().getLong(0) === 501L * 500L)
  }

  test("lanes run under a scope leave the session cache empty") {
    // frames persisted outside any scope stay until the caller clears
    // them: start from an empty cache
    spark.catalog.clearCache()
    Seq("q78_pagerank", "dedup_clusters", "text_lm_perplexity").foreach { q =>
      IterCache.scope {
        SparkEntry.queries(q)(spark, sf0001)
          .write.format("noop").mode("overwrite").save()
        // each of these lanes caches a substrate while it runs
        assert(!spark.sharedState.cacheManager.isEmpty, s"$q cached nothing")
      }
      assert(spark.sharedState.cacheManager.isEmpty, s"$q left a cached frame")
    }
  }
}
