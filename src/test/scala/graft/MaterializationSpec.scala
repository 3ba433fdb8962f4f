package graft

/** The two engine facts the materialization audit rests on (the
  * `// keep:` tags under src/main, checked by InventorySpec): a Dataset
  * `localCheckpoint()` is eager — it runs a job before it returns — and
  * `Dataset.unpersist` on a checkpointed frame releases nothing, because
  * the checkpoint's blocks belong to an RDD, not to a CacheManager entry. */
class MaterializationSpec extends SparkSpec {

  test("Dataset.localCheckpoint() runs at least one job before it returns") {
    val meter = new Bench.Meter().attach(spark)
    try {
      val before = meter.reading(spark.sparkContext)
      spark.range(0, 1000).toDF("id").localCheckpoint()
      val ran = Bench.delta(meter.reading(spark.sparkContext), before)
      assert(ran.getOrElse("jobs", 0L) >= 1, s"localCheckpoint() returned without a job: $ran")
    } finally meter.detach(spark)
  }

  test("Dataset.unpersist on a checkpointed frame leaves its RDD persistent") {
    GraftSession.resetBetweenQueries(spark)
    val frame = spark.range(0, 1000).toDF("id").localCheckpoint()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    assert(pinned.nonEmpty, "localCheckpoint persisted nothing")
    frame.unpersist(blocking = true)
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(pinned.subsetOf(left), s"unpersist released checkpoint RDDs ${pinned -- left}")
    GraftSession.resetBetweenQueries(spark)
  }
}
