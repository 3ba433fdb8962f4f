package graft

/** Round-11 regression pins: the per-key-serialized memo (ADVICE r10),
  * the size-derived bucket layout (verdict item 4), the one-scan
  * q21_approx (item 5) and the census-derived MinHash band geometry
  * (item 6). */
class Round11Spec extends SparkSpec {

  test("Shared.memo: concurrent first-builders run ONE build (per-key FutureTask)") {
    // ADVICE r10: the r10 reentrancy rewrite let two concurrent first
    // callers both materialize the build; the FutureTask map restores
    // computeIfAbsent's per-key serialization without its bin lock
    import spark.implicits._
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(2)
    val results = (1 to 2).map { _ =>
      val t = new java.util.concurrent.FutureTask[Seq[Long]](() => {
        latch.countDown(); latch.await() // both threads at the gate
        operators.Shared.memo(spark, "/memo-r11-concurrency", "once") {
          builds.incrementAndGet()
          Seq(7L).toDF("x")
        }.collect().map(_.getLong(0)).toSeq
      })
      new Thread(t).start(); t
    }
    assert(results.map(_.get()) == Seq(Seq(7L), Seq(7L)))
    assert(builds.get() == 1, s"expected one build, ran ${builds.get()}")
  }

  test("Shared.memo: a failed build is evicted so a later caller retries") {
    import spark.implicits._
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = operators.Shared.memo(spark, "/memo-r11-retry", "flaky") {
      if (attempts.incrementAndGet() == 1) sys.error("transient first-build failure")
      Seq(9L).toDF("x")
    }
    intercept[RuntimeException](build)
    assert(build.collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(attempts.get() == 2)
  }

  test("bucketCountFor: smallest power of two under target bytes/bucket, clamped") {
    import operators.RelationalExt4.bucketCountFor
    val t = GraftConf.bucketTargetBytes
    assert(bucketCountFor(BigInt(0)) == GraftConf.bucketMinCount)
    assert(bucketCountFor(BigInt(t) * GraftConf.bucketMinCount) == GraftConf.bucketMinCount)
    // just past the floor's capacity -> next power of two
    assert(bucketCountFor(BigInt(t) * GraftConf.bucketMinCount + 1) == GraftConf.bucketMinCount * 2)
    // non-power-of-two need rounds UP (never oversized buckets)
    assert(bucketCountFor(BigInt(t) * 9) == 16)
    assert(bucketCountFor(BigInt(t) * 100) == 128)
    // cap holds for absurd sizes
    assert(bucketCountFor(BigInt(Long.MaxValue) * 8) == GraftConf.bucketMaxCount)
    // every result is a power of two in range
    Seq(1L, t - 1, t, 3 * t, 17 * t, 1000 * t).foreach { b =>
      val n = bucketCountFor(BigInt(b))
      assert(Integer.bitCount(n) == 1 && n >= GraftConf.bucketMinCount &&
        n <= GraftConf.bucketMaxCount, s"bytes=$b -> $n")
    }
  }

  test("q56: size-derived buckets keep the zero-exchange certificate at test scale") {
    val rows = operators.RelationalExt4.q56BucketJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("n_shuffles_below_join") == 0),
      "bucketed join must read pre-placed buckets with no exchange below the join")
  }

  test("q21: one shared lineitem exchange (certificate throws inside if not reused)") {
    // the ReusedExchange >= 2 certificate lives in the query itself;
    // this pins that it PASSES at test scale and the flags hold
    val rows = operators.RelationalExt.q21Approx(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Boolean]("hll_ok") && r.getAs[Boolean]("median_ok")))
  }

  test("censusBandRows: prices rung 1 above rung 2 on the cdc corpus and lands on 2") {
    // natural corpora have fat single-minhash buckets (docs sharing ONE
    // common chunk collide at r=1), so the census-derived verify
    // geometry must reproduce the historical static choice here
    val row = operators.TextAnalysis.cdcMinhash(spark, sf).limit(1).collect()
    assert(row.nonEmpty, "no cdc near-dup pairs at test scale — fixture drifted")
    assert(row.head.getAs[Long]("band_rows") == 2L)
  }
}
