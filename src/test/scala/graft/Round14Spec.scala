package graft

import graft.operators.Shared

/** Round-14 pins: the loop harness's skew guard + single-flight
  * assertion and the bounded awaitAll (r13 verdict items 7 and 8). */
class Round14Spec extends SparkSpec {

  test("withLoopParallelism: small frames get sized partitions + AQE off, restored after") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val beforeAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    Shared.withLoopParallelism(spark, rows = 10L, rowsPerPartition = 1000L) {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "1")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") == beforeAqe)
  }

  test("withLoopParallelism SKEW GUARD: a data-bound frame keeps AQE (and its skew splitting)") {
    // threshold = 4 x defaultParallelism x rowsPerPartition: past it the
    // loop is data-bound, per-stage AQE jobs are amortized, and losing
    // AQE's runtime skew-join splitting would be the wrong trade
    // (verdict item 7; documented at the clamp in Shared.scala)
    val par = spark.sparkContext.defaultParallelism
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val beforeAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    Shared.withLoopParallelism(spark, rows = 4L * par * 1000L, rowsPerPartition = 1000L) {
      // session untouched: production planner, AQE as configured
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      assert(spark.conf.getOption("spark.sql.adaptive.enabled") == beforeAqe)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("withLoopParallelism: same-thread nesting is legal, cross-thread concurrency fails loud") {
    // nesting restores LIFO
    Shared.withLoopParallelism(spark, rows = 10L, rowsPerPartition = 1000L) {
      Shared.withLoopParallelism(spark, rows = 5000L, rowsPerPartition = 1000L) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "5")
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "1")
    }
    // a second THREAD entering while the first holds the harness must
    // throw, not silently race the session-global conf mutation
    Shared.withLoopParallelism(spark, rows = 10L, rowsPerPartition = 1000L) {
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val t = new Thread(() =>
        try Shared.withLoopParallelism(spark, rows = 10L, rowsPerPartition = 1000L)(())
        catch { case e: Throwable => failed.set(e) })
      t.start(); t.join()
      assert(failed.get().isInstanceOf[IllegalStateException],
        s"concurrent entry must fail loud, got ${failed.get()}")
    }
  }

  test("withLoopParallelism: a data-bound call nested in a small-frame one gets the pre-loop conf") {
    // the inner frame is data-bound, so its body must run under the
    // production planner (AQE on, configured partitions), not under the
    // outer call's AQE-off fast path
    val par = spark.sparkContext.defaultParallelism
    val configured = spark.conf.get("spark.sql.shuffle.partitions")
    val configuredAqe = spark.conf.get("spark.sql.adaptive.enabled")
    Shared.withLoopParallelism(spark, rows = 1L, rowsPerPartition = 1000L) {
      Shared.withLoopParallelism(spark, rows = 4L * par * 1000L, rowsPerPartition = 1000L) {
        assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
        assert(spark.conf.get("spark.sql.shuffle.partitions") == configured)
      }
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "1")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == configuredAqe)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == configured)
  }

  test("awaitAll: bounded in-flight concurrency, order-preserving, failure-propagating") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val res = Shared.awaitAll((1 to 12).map { i => () =>
      val now = inFlight.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, now))
      Thread.sleep(30)
      inFlight.decrementAndGet()
      i * 10
    })
    assert(res == (1 to 12).map(_ * 10), "results must preserve thunk order")
    assert(maxSeen.get() <= 3, s"guide 2.6 bound is 3 in flight, saw ${maxSeen.get()}")
    assert(maxSeen.get() >= 2, "thunks must actually overlap")
    val e = intercept[RuntimeException] {
      Shared.awaitAll(Seq(() => 1, () => throw new RuntimeException("boom"), () => 3))
    }
    assert(e.getMessage == "boom", "thunk exceptions propagate unwrapped")
  }

  test("awaitAll: a failure cancels the queued thunks and waits for the started ones") {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val queued = new java.util.concurrent.atomic.AtomicInteger(0)
    val slow = () => { started.incrementAndGet(); Thread.sleep(200); finished.incrementAndGet(); () }
    val thunks: Seq[() => Unit] =
      Seq(() => throw new RuntimeException("first"), slow, slow) ++
        Seq.fill(5)(() => { queued.incrementAndGet(); () })
    val e = intercept[RuntimeException](Shared.awaitAll(thunks))
    assert(e.getMessage == "first")
    assert(finished.get() == started.get(), "started thunks finish before the rethrow")
    Thread.sleep(100)
    assert(queued.get() == 0, s"${queued.get()} queued thunks ran after the failure")
  }
}
