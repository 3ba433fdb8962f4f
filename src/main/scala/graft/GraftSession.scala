package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine — the only place a SparkSession
  * is built, configured and reset between queries.
  *
  * Defaults are tuned for the driver's `local[32]` single-JVM harness but
  * the same settings are what we would ship to a 1000-executor cluster:
  * AQE on (runtime shuffle-partition coalescing + skew-join splitting),
  * UTC session time for oracle parity, and a shuffle-partition count that
  * matches available parallelism instead of the legacy 200 default.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // guide §3.1/§9: let the planner pick shuffled-hash over
      // sort-merge when its size conditions fit (broadcast still wins
      // when a side fits under the threshold; explicit merge-hint
      // certificates are unaffected — hints outrank the preference).
      // Array/struct-carrying joins are the measured winners: SMJ sorts
      // the wide side, SHJ builds on the small side and streams.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // static conf: a ~100-query engine blows the default 100-entry
      // generated-class cache and re-compiles plans every pass
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      // constant reader semantics for the whole session (see
      // Tables.ensureLegacyNanos): a NANOS-layout events file infers
      // as long + normalizeTs instead of a reader error
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** The session every command-line main runs on: `local[N]` with N
    * shuffle partitions, N = `SPARK_GRAFT_CPUS`, defaulting to every
    * core the JVM sees. One default for every tool: a probe run that
    * silently fell back to another main's smaller default measured
    * 3× slow (SCALING.md). */
  def forMain(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The `SparkEntry.queries` a main runs: all of them when `only` is
    * unset, else exactly the comma-separated names in it
    * (`SPARK_GRAFT_ONLY`). A typo'd (or since-renamed) name throws: it
    * must not silently shrink the sweep, where an empty or partial run
    * would read as a legitimately fast or green one. */
  def selectQueries(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        if (unknown.nonEmpty)
          throw new IllegalArgumentException("SPARK_GRAFT_ONLY names unknown queries: " +
            unknown.toSeq.sorted.mkString(", "))
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }

  /** Between-query reset: the next query starts with an empty cache, an
    * empty block manager and no temp views. Call it after a query's
    * result has been consumed (counted, collected or written). */
  def resetBetweenQueries(spark: SparkSession): Unit = {
    // an empty CacheManager: a query's persisted frames are ITS cost,
    // and without the clear every later query pays a canonicalization
    // tax proportional to the accumulated cached-plan set (measured ~2x
    // on document-family queries by the 95-query steady pass) —
    // contaminated numbers, not steady-state ones
    spark.catalog.clearCache()
    // ... and an empty block manager: clearCache only drops
    // catalog-cached plans, while localCheckpoint blocks and RDD-level
    // persists linger until GC + ContextCleaner get to them. Across
    // ~250 query executions the zombies crowd the storage pool and
    // persist-dependent queries (the RDD-loop family) degrade 10x late
    // in a pass (measured: d_embed_clusters 2.6 s -> 32 s in the steady
    // pass of one run, cold pass fine).
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // ... and no leftover memory-sink tables: the two streaming gates
    // that still write one (EventStream.chainedStateful and
    // availableNow, whose certificates read the query object; every
    // other gate drains to files) leave it registered, the full result
    // table DRIVER-resident. Before the drains, ten accumulated sinks
    // plus the next query's state put the 100× steady pass into a GC
    // death spiral the cold pass never sees (measured: st_session_window
    // steady 690 s of GC in the r11 xf100 suite run after ten cold
    // sinks, where the same query completes in a fresh JVM). The result
    // was consumed before the reset, so the data is unreachable once
    // the view drops.
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
