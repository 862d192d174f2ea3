package graft

import graft.operators.Concurrent

/** The concurrent-action helper: all work runs, results come back in
  * work order, the first failure surfaces UNWRAPPED, and the caller's job
  * group reaches the worker threads (so a Timebox cancel of the enclosing
  * query can still cancel the overlapped jobs). */
class ConcurrentSpec extends SparkSpec {

  test("runConcurrently executes every work item") {
    val hits = new java.util.concurrent.atomic.AtomicInteger
    val out = Concurrent.runConcurrently(spark,
      (1 to 4).map(i => () => { hits.incrementAndGet(); i * 10 }))
    assert(hits.get() == 4)
    assert(out == Seq(10, 20, 30, 40))
  }

  test("runConcurrently rethrows a work item's ORIGINAL exception") {
    val boom = intercept[IllegalStateException] {
      Concurrent.runConcurrently(spark, Seq(
        () => (),
        () => throw new IllegalStateException("segment write failed")))
    }
    assert(boom.getMessage == "segment write failed")
  }

  test("runConcurrently propagates the caller's job group to workers") {
    val sc = spark.sparkContext
    sc.setJobGroup("seg-io-spec", "seg-io-spec", interruptOnCancel = true)
    try {
      val seen = Concurrent.runConcurrently(spark, Seq(
        () => sc.getLocalProperty("spark.jobGroup.id")))
      assert(seen == Seq("seg-io-spec"))
    } finally sc.clearJobGroup()
  }
}
