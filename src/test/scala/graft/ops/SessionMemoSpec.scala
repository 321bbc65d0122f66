package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

class SessionMemoSpec extends SparkSpec {

  private val keys = new AtomicInteger()
  /** A key no other case (or earlier run of this one) has used. */
  private def freshKey(): Int = keys.incrementAndGet()

  test("8 concurrent callers of one key share one build") {
    val key = freshKey()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map { _ =>
      val t = new Thread(() => {
        start.await()
        results.add(SessionMemo(spark, "spec.concurrent", key) {
          builds.incrementAndGet()
          Thread.sleep(200)
          s"value-$key"
        })
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)
    assert(results.size == 8 && results.toArray.toSet == Set(s"value-$key"))
    val st = SessionMemo.stats(s"spec.concurrent:$key")
    assert(st.builds == 1 && st.hits == 7 && st.buildSeconds >= 0.2)
  }

  test("a build may read other memo entries without deadlock") {
    val key = freshKey()
    val done = new CountDownLatch(2)
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        val outer = SessionMemo(spark, "spec.outer", key) {
          SessionMemo(spark, "spec.inner", key)(SessionMemo(spark, "spec.leaf", key)(1) + 1) + 1
        }
        assert(outer == 3)
        done.countDown()
      })
      t.setDaemon(true); t.start(); t
    }
    assert(done.await(30, TimeUnit.SECONDS), "nested builds deadlocked")
    assert(SessionMemo(spark, "spec.inner", key)(-1) == 2)
  }

  test("a failed build is surfaced and not kept: the next call builds again") {
    val key = freshKey()
    val e = intercept[IllegalStateException] {
      SessionMemo[Int](spark, "spec.failing", key)(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    assert(SessionMemo(spark, "spec.failing", key)(42) == 42)
    assert(SessionMemo(spark, "spec.failing", key)(7) == 42)
    assert(SessionMemo.stats(s"spec.failing:$key").builds == 1)
  }

  test("two sessions hold separate entries for one key") {
    val key = freshKey()
    val other = spark.newSession()
    assert(SessionMemo(spark, "spec.session", key)("first") == "first")
    assert(SessionMemo(other, "spec.session", key)("second") == "second")
    assert(SessionMemo(spark, "spec.session", key)("again") == "first")
    assert(SessionMemo.stats(s"spec.session:$key").builds == 2)
  }

  test("releaseAll frees persisted and localCheckpoint values") {
    import org.apache.spark.storage.StorageLevel
    val key = freshKey()
    val before = persistentRddIds()
    val pinned = SessionMemo(spark, "spec.pinned", key)(
      spark.range(1000).toDF("id").persist(StorageLevel.MEMORY_AND_DISK))
    pinned.count()
    val checkpointed = SessionMemo(spark, "spec.checkpointed", key)(
      spark.range(1000).toDF("id").localCheckpoint())
    assert(checkpointed.count() == 1000)
    val held = persistentRddIds() -- before
    assert(held.size == 2, s"expected one pinned and one checkpointed RDD, got $held")
    SessionMemo.releaseAll()
    assert(persistentRddIds().intersect(held).isEmpty,
      s"still persisted after releaseAll: ${persistentRddIds().intersect(held)}")
    // released entries rebuild on the next call
    val rebuilt = SessionMemo(spark, "spec.checkpointed", key)(
      spark.range(10).toDF("id").localCheckpoint())
    assert(rebuilt.count() == 10)
    SessionMemo.releaseAll()
  }

  test("after running every memo consumer, releaseAll leaves no memo RDD persisted") {
    SessionMemo.releaseAll()
    val before = persistentRddIds()
    Tables.enableInputCache()
    try {
      GraphOps.pageRank(spark, Sf0001).collect()
      GraphOps.hits(spark, Sf0001).collect()
      GraphOps.triangleCounts(spark, Sf0001).collect()
      ClusterOps.nearDupClusters(spark, Sf0001).collect()
      EvalOps.prfEvalSummary(spark, Sf0001).collect()
      EvalOps.prfNdcgSummary(spark, Sf0001).collect()
      KmeansOps.kmeansCentroids(spark, Sf0001).collect()
      PqOps.pqCodebooks(spark, Sf0001).collect()
      SimilarityOps.annIvf(spark, Sf0001).collect()
      SimilarityOps.knnJoin(spark, Sf0001).collect()
      BpeOps.merges(spark, Sf0001).collect()
      val held = persistentRddIds() -- before
      assert(held.nonEmpty)
      SessionMemo.releaseAll()
      val left = persistentRddIds().intersect(held)
      assert(left.isEmpty, s"RDDs still persisted after releaseAll: $left")
    } finally Tables.disableInputCache()
  }
}
