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
  *
  * Every session also runs with the [[sessionConfs]] that [[install]]
  * sets, artifact isolation off among them. Spark caches a generated
  * class under (the task thread's context class loader, its code), and
  * under the default `spark.sql.artifact.isolation.enabled=true` each
  * session gets its own executor class loader: every `newSession()` and
  * every streaming query's cloned session would compile all its classes
  * again with Janino and JIT-warm them from scratch — the same
  * recompile-every-pass symptom as the `codegen.cache.maxEntries`
  * overflow below. graft adds no session artifacts, so with isolation
  * off every session shares the JVM's one cache (SCALING.md, "codegen
  * cache and sessions").
  *
  * Every session's SparkContext also gets the [[hadoopConfs]]: Hadoop's
  * `file:` scheme, for `FileSystem` and for `FileContext` (streaming's
  * offset and commit logs and its state store), goes to `graft.io`'s
  * local file system, which sets permissions and reads links through
  * NIO where Hadoop without libhadoop forks `chmod` and `readlink`
  * (SCALING.md, "Hadoop's local file system forks"). `FileSystem`'s
  * cache for `file:` is turned off with it: a SparkContext built
  * elsewhere, with Hadoop's instance already in the JVM-wide cache
  * under the same key, would otherwise keep serving that instance and
  * the class key would never take effect. An uncached `getFileSystem`
  * builds a new instance, ~8 µs against ~4 µs from the cache, where a
  * fork costs ~2.6 ms. Hadoop deletes the paths marked for deletion on
  * exit only when it closes a cached instance, so graft marks none.
  */
object GraftSession {
  /** The session confs graft's queries run under:
    *   - artifact isolation off, so generated classes are compiled once
    *     per JVM instead of once per session;
    *   - `nanosAsLong`, constant reader semantics for the session's
    *     lifetime: a NANOS-layout events file infers as long +
    *     [[Tables.normalizeTs]] instead of a reader error. It only
    *     changes how a NANOS-typed `ts` is INFERRED; micros/NTZ layouts
    *     are unaffected. */
  private val sessionConfs = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The Hadoop confs of every SparkContext graft runs on: `file:` goes
    * to `graft.io`'s fork-free local file system, uncached. */
  private val hadoopConfs = Seq(
    "fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Sets the [[sessionConfs]] on `s` and the [[hadoopConfs]] on its
    * SparkContext's Hadoop configuration that they do not hold yet and
    * returns `s`; idempotent. `SparkEntry.queries` calls it before every
    * query body and [[Tables.load]] before every base-table read, for
    * sessions built outside [[builder]]. Spark reads the isolation conf
    * once, at the session's first SQL execution (`ArtifactManager.state`
    * is a lazy val), so it must run at a query's entry: on a session
    * that has executed SQL the set is accepted and has no effect on that
    * session. The Hadoop confs reach every Hadoop configuration Spark
    * copies from the context's after the call. */
  def install(s: SparkSession): SparkSession = {
    sessionConfs.foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v)
    }
    val hadoop = s.sparkContext.hadoopConfiguration
    hadoopConfs.foreach { case (k, v) => if (hadoop.get(k) != v) hadoop.set(k, v) }
    s
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    (sessionConfs ++ hadoopConfs.map { case (k, v) => ("spark.hadoop." + k) -> v })
      .foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
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

  /** Between-query reset: the next query starts with an empty cache and
    * an empty block manager. Call it after a query's result has been
    * consumed (counted, collected or written). Temp views are not its
    * business: each query that registers one drops it in its own
    * `finally`, and no query leaves a streaming sink table behind. */
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
    // pass of one run, cold pass fine). BlockRelease drops a locally
    // checkpointed RDD without Spark's per-RDD WARN.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(org.apache.spark.graft.BlockRelease.drop)
  }
}
