package graft

/** Bench's one meter: scheduler counts for a batch query, micro-batch
  * counts and the durationMs split for a streaming one, and nothing
  * left over for the next measurement. */
class MeterSpec extends SparkSpec {

  test("meter: jobs/stages/tasks for a batch query, micro-batches for a streaming one, no bleed") {
    val meter = new Bench.Meter().attach(spark)
    def measure(body: => Unit): Map[String, Long] = {
      val before = meter.reading(spark.sparkContext)
      body
      Bench.delta(meter.reading(spark.sparkContext), before)
    }
    try {
      val q10 = measure(SparkEntry.queries("q10_star_join")(spark, sf).count())
      assert(q10("jobs") >= 1 && q10("stages") >= 1, s"q10 ran no job: $q10")
      assert(q10("tasks") >= q10("stages"), s"every stage runs at least one task: $q10")
      assert(q10.getOrElse("stream_batches", 0L) == 0, s"q10 is not streaming: $q10")

      val st = measure(SparkEntry.queries("st_window_agg")(spark, sf).count())
      assert(st("stream_batches") >= 1, s"st_window_agg ran no micro-batch: $st")
      assert(st.contains("stream_ms.triggerExecution"), s"no durationMs split: $st")

      val empty = measure(())
      assert(empty.values.forall(_ == 0), s"counts bled into an empty measurement: $empty")
    } finally meter.detach(spark)
  }

  test("between-query reset: a locally checkpointed frame's blocks drop without a WARN") {
    // count Spark's "was locally checkpointed … after unpersisting" WARN,
    // which RDD.unpersist logs for every checkpointed RDD it drops
    val warned = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "checkpoint-warn", null, null, true, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("was locally checkpointed")) warned.incrementAndGet()
    }
    appender.start()
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    root.addAppender(appender)
    try {
      val frame = spark.range(0, 1000).toDF("id").localCheckpoint()
      assert(frame.count() == 1000)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "localCheckpoint persisted nothing")
      GraftSession.resetBetweenQueries(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"reset left ${spark.sparkContext.getPersistentRDDs.keys.toSeq.sorted} persistent")
      assert(warned.get == 0, s"reset logged ${warned.get} locally-checkpointed WARNs")
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }
}
