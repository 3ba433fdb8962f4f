package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanProbe

import graft.Tables

/** Fifth tranche of relational coverage (SURVEY.md §2B continued): the
  * STORAGE-LAYOUT levers — the two biggest avoidable costs at 100 TB
  * that the first 55 queries exercise only at query time, not at
  * layout time. Both queries carry their layout claim as oracle-pinned
  * RESULT COLUMNS (measured from the executed plan via
  * [[PlanProbe]]), so a planner or layout regression flips the
  * correctness gate, not just a benchmark number:
  *
  *   - q56: `bucketBy`-written fact tables joined with ZERO exchange —
  *     the warehouse workhorse. The reference's own djb2-partitioned
  *     intermediate lists (mapreduce.c:239, consumed per-partition at
  *     :258) are exactly this layout: data pre-hashed on the join key
  *     so the shuffle happens once at WRITE time, not per query.
  *   - q57: hive-partitioned layout + a partition predicate = files
  *     never opened. The scan's own `numFiles` metric is the
  *     certificate: files_read == partitions satisfying the predicate.
  */
object RelationalExt4 {

  /** Unique suffix per invocation so concurrent runs on a shared
    * session can never race on table names (the q54 temp-view lesson —
    * see ADVICE r5). */
  private val invocation = new AtomicLong(0L)

  /** BUCKETED-LAYOUT JOIN ELIMINATION. orders and lineitem are written
    * as parquet tables `bucketBy(n, <orderkey>)` + `sortBy`, n derived
    * from the larger side's size ([[bucketCountFor]] — 8 at the
    * driver's scales, growing as a power of two with the data) — each
    * side `repartition(n, key)`-ed first so every bucket is exactly ONE
    * file (repartition's HashPartitioning and the bucket id are the
    * same pmod(murmur3) function, so task i holds precisely bucket i).
    * The fact-fact join then runs as a sort-merge join whose both
    * inputs come straight from the bucketed scans: NO shuffle on
    * either side — at 100 TB this is the difference between
    * re-shuffling 600 GB of lineitem per query and reading it
    * pre-placed. The `merge` hint keeps the demo honest (Catalyst
    * would broadcast a small orders side at test scale — the right
    * plan when it fits, but then nothing would certify the bucketed
    * path).
    *
    * The certificate is IN the result: `n_shuffles_below_join` counts
    * [[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]]
    * nodes strictly below the executed SortMergeJoin (AQE-resolved),
    * and the oracle pins it to 0. Buckets keep their within-file sort,
    * but the scan does not advertise it by default (multi-file-bucket
    * safety), so the cheap per-bucket SortExec stays — a deliberate
    * non-claim: pinning Sort counts would encode an engine default the
    * way ADVICE r5 warned against for st_late_data.
    *
    * Business result: per-priority line counts + exact-micros revenue
    * over the joined facts. */
  /** Size-derived bucket count (r10 verdict item 4): the smallest power
    * of two putting the larger side's planner estimate under
    * [[graft.GraftConf.bucketTargetBytes]] per bucket, clamped to
    * [[graft.GraftConf.bucketMinCount]]..[[graft.GraftConf.bucketMaxCount]].
    * Deterministic integer arithmetic over the scan estimate — at the
    * driver's scales it lands on the floor (8, the historical layout),
    * at 100× it grows with the data so no bucket is ever corpus-sized. */
  private[graft] def bucketCountFor(sizeBytes: BigInt): Int = {
    val target = graft.GraftConf.bucketTargetBytes
    val needed = ((sizeBytes max BigInt(1)) + target - 1) / target
    val capped = (needed min BigInt(graft.GraftConf.bucketMaxCount)).toInt
    val p2 = Integer.highestOneBit(math.max(1, capped))
    val ceil2 = if (p2 == capped) p2 else p2 << 1
    math.max(graft.GraftConf.bucketMinCount, ceil2)
  }

  def q56BucketJoin(s: SparkSession, d: String): DataFrame = {
    val id = invocation.incrementAndGet()
    val tO = s"graft_q56_orders_$id"
    val tL = s"graft_q56_lineitem_$id"
    graft.Scratch.withDir("graft_q56_") { out =>
      try {
        val ordersProj = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        val lineitemProj = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
        // ONE count for BOTH sides, from the larger (bucketed joins need
        // equal counts to stay exchange-free; Spark's bucket coalescing
        // could relax this to a 2^k multiple, but equal is the layout a
        // warehouse co-bucketing a fact pair would write)
        val nBuckets = bucketCountFor(
          lineitemProj.queryExecution.optimizedPlan.stats.sizeInBytes max
            ordersProj.queryExecution.optimizedPlan.stats.sizeInBytes)
        // the two bucketed-table writes are independent — overlap them
        // (Shared.awaitAll, guide §2.6)
        Shared.awaitAll[Unit](Seq(
          () => ordersProj
            .repartition(nBuckets, col("o_orderkey"))
            .write.mode("overwrite").option("path", s"$out/orders")
            .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(tO),
          () => lineitemProj
            .repartition(nBuckets, col("l_orderkey"))
            .write.mode("overwrite").option("path", s"$out/lineitem")
            .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(tL)))
        val agg = s.table(tO).hint("merge")
          .join(s.table(tL).hint("merge"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(round(col("l_extendedprice") * lit(1000000L)).cast("long")).as("rev_us"))
          .orderBy("o_orderpriority")
        // materialize BEFORE probing (metrics/final plan exist only after
        // execution) and BEFORE dropping the tables it reads
        val materialized = agg.localCheckpoint()
        val (nShuffles, _) = PlanProbe.shufflesAndSortsUnderSmj(agg)
        materialized.withColumn("n_shuffles_below_join", lit(nShuffles))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tO")
        s.sql(s"DROP TABLE IF EXISTS $tL")
      }
    }
  }

  val q56Sql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us,
      |  CAST(0 AS INTEGER) AS n_shuffles_below_join
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** SCAN-PRUNING CERTIFICATE. events is rewritten hive-partitioned by
    * day (`partitionBy("day")`, `repartition(col("day"))` first so each
    * day is exactly one file — one task owns each day), then a
    * mid-month predicate aggregate runs over the layout and the scan's
    * own execution metrics are emitted as result columns:
    *
    *   - `files_read`  = the filtered scan's `numFiles` (files opened
    *     AFTER partition pruning),
    *   - `files_total` = an unpruned scan's `numFiles` over the same
    *     layout (the denominator — what a naive layout pays),
    *
    * and the oracle pins files_read == count(DISTINCT day in range)
    * and files_total == count(DISTINCT day): the scan opened exactly
    * the partitions the predicate names and skipped everything else.
    * BYTES NOT READ is the first lever anyone pulls at 100 TB — a
    * day-partitioned year holds ~365 partitions and a trailing-7-day
    * dashboard should pay for 7. The probe also asserts the predicate
    * reached the scan as a PARTITION filter (metadata skip), not a
    * post-scan row filter. Business result on the same pass: row count
    * + exact-cents value sum in the window. */
  /** Write events hive-partitioned by day into `out`, one file per
    * partition (`repartition(col)` routes each day to exactly one task
    * before `partitionBy` splits by value) — the layout q57/q58
    * certify pruning against. */
  private def writeDayPartitioned(s: SparkSession, d: String, out: String): Unit =
    Tables.events(s, d)
      .select(col("event_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)

  def q57PartitionPrune(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_q57_") { out =>
      writeDayPartitioned(s, d, out)
      val lo = "2024-01-10"; val hi = "2024-01-19"
      val pruned = s.read.parquet(out)
        .filter(col("day") >= lo && col("day") <= hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("value") * lit(100)).cast("long")).as("value_c"))
      val row = pruned.collect()(0)
      if (PlanProbe.scansWithPartitionFilters(pruned) < 1)
        throw new IllegalStateException(
          "day predicate did not reach the scan as a partition filter")
      val filesRead = PlanProbe.scanMetricSum(pruned, "numFiles")
      val all = s.read.parquet(out).agg(count(lit(1)).as("n"))
      all.collect()
      val filesTotal = PlanProbe.scanMetricSum(all, "numFiles")
      import s.implicits._
      Seq((row.getAs[Long]("n_rows"), row.getAs[Long]("value_c"), filesRead, filesTotal))
        .toDF("n_rows", "value_c", "files_read", "files_total")
    }
  }

  val q57Sql: String =
    """WITH e AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, value FROM events
      |)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
      |  (SELECT count(DISTINCT day) FROM e
      |   WHERE day >= '2024-01-10' AND day <= '2024-01-19') AS files_read,
      |  (SELECT count(DISTINCT day) FROM e) AS files_total
      |FROM e WHERE day >= '2024-01-10' AND day <= '2024-01-19'""".stripMargin

  /** DYNAMIC partition pruning certificate — q57's runtime twin, and
    * the star-schema workhorse: the pruning predicate lives on a
    * DIMENSION (here, a day dimension filtered to day-of-month % 7 ==
    * 3), not on the fact's partition column, so static pruning can do
    * nothing — the fact scan must be pruned at RUNTIME from the
    * broadcast dim's join keys (Spark's DPP: the dim broadcast is
    * reused as an IN-subquery partition filter). At 100 TB this is
    * the "sales JOIN selected_dates" query — without DPP it scans the
    * whole fact table every time. Certificate columns, oracle-pinned
    * exactly like q57: `files_read` (the fact scan's post-pruning
    * `numFiles`) must equal the dim's day count, `files_total` the
    * full partition count; the query also asserts a dynamicpruning
    * filter is present in the executed fact scan, so a green row can
    * only come from the DPP path. */
  def q58DynamicPrune(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_q58_") { out =>
      writeDayPartitioned(s, d, out)
      val fact = s.read.parquet(out)
      val dim = Tables.events(s, d)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
        .filter(dayofmonth(to_date(col("day"))) % 7 === 3)
      val joined = fact.join(broadcast(dim), "day")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("value") * lit(100)).cast("long")).as("value_c"))
      val row = joined.collect()(0)
      if (!PlanProbe.nodes(joined).exists(_.toString.contains("dynamicpruning")))
        throw new IllegalStateException(
          "fact scan is not dynamically pruned — DPP did not engage")
      // scope the metric to the scratch fact scan: the dim side reads
      // the original events parquet through its own scan node
      val filesRead = PlanProbe.scanMetricSumForPath(joined, "numFiles", out)
      val all = s.read.parquet(out).agg(count(lit(1)).as("n"))
      all.collect()
      val filesTotal = PlanProbe.scanMetricSumForPath(all, "numFiles", out)
      import s.implicits._
      Seq((row.getAs[Long]("n_rows"), row.getAs[Long]("value_c"), filesRead, filesTotal))
        .toDF("n_rows", "value_c", "files_read", "files_total")
    }
  }

  val q58Sql: String =
    """WITH e AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, value FROM events
      |), dim AS (
      |  SELECT DISTINCT day FROM e
      |  WHERE CAST(date_part('day', CAST(day AS DATE)) AS INTEGER) % 7 = 3
      |)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
      |  (SELECT count(*) FROM dim) AS files_read,
      |  (SELECT count(DISTINCT day) FROM e) AS files_total
      |FROM e JOIN dim USING (day)""".stripMargin

  /** AQE SKEW-JOIN certificate — the RUNTIME completion of the skew
    * story (q22 salts an aggregate, q52 salts a join BY HAND; this
    * proves the engine's own adaptive fallback engages when nobody
    * salted): events are keyed so ~80 % of rows share one hot key,
    * sort-merge-joined (merge hint — broadcast would dodge the
    * shuffle) against a 2-row dimension, with the skew thresholds
    * scoped down to test-data volumes (at production defaults the
    * mechanism is identical at 256 MB partitions — the knobs move, the
    * plan shape doesn't). After execution the AQE-resolved plan is
    * probed for a shuffle read containing skew SPLITS
    * ([[PlanProbe.skewedShuffleReads]]); `skew_split` is an
    * oracle-pinned TRUE — if a Spark upgrade stops splitting the hot
    * partition, the correctness gate goes red, not just a latency
    * chart. Business result: per-type counts and dim-weighted sums,
    * provably unaffected by the runtime re-plan. */
  def q59AqeSkew(s: SparkSession, d: String): DataFrame =
    Shared.withConfs(s, Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4096",
      // factor 2 (default 5): the skew test is size > max(factor·median,
      // threshold), and the MEDIAN depends on the session's shuffle
      // partition count (empty partitions pull it down) — at 4 partitions
      // and the smallest test scale the default factor makes an ~80 %-hot
      // partition borderline-undetected. 2× median is still unambiguously
      // "skewed" and is partition-count-robust
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      // advisory sets the SPLIT TARGET: it must stay BELOW the smallest
      // test scale's per-map-output hot bytes or the splitter can't form
      // two chunks and the certificate goes vacuous (measured: 8192
      // stopped splitting sf0.001 under a 4-core session). 2048 splits
      // at every scale; the resulting sf0.1 micro-tasks are cheap — the
      // bench's 0.7 s cold time shows scheduling, not splitting, costs
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048")) {
      import s.implicits._
      // parallelize: AQE splits a skewed reduce partition by MAP-OUTPUT
      // ranges, so the shuffle's map side needs >1 task — a one-file
      // test scan would make the certificate vacuously un-splittable
      // (a 100 TB scan always has thousands of map tasks)
      val e = Tables.parallelize(Tables.events(s, d)).select(
        when(col("event_type") === "signup", lit("signup")).otherwise(lit("hot")).as("k"),
        col("event_type"),
        round(col("value") * lit(100)).cast("long").as("value_c"))
      val dim = Seq(("signup", 2L), ("hot", 3L)).toDF("k", "mult")
      val agg = e.join(dim.hint("merge"), "k")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_c") * col("mult")).as("weighted_c"))
        .orderBy("event_type")
      val materialized = agg.localCheckpoint()
      val nSkewed = PlanProbe.skewedShuffleReads(agg)
      if (nSkewed < 1)
        throw new IllegalStateException(
          "AQE did not split the hot partition — skew certificate is vacuous")
      materialized.withColumn("skew_split", lit(true))
    }

  val q59Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)
      |    * CASE WHEN event_type = 'signup' THEN 2 ELSE 3 END) AS BIGINT) AS weighted_c,
      |  TRUE AS skew_split
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The EXTENSION-FUNCTION SQL surface behind the oracle gate: graft's
    * native Catalyst expressions are registered for `spark.sql` users
    * ([[graft.GraftFunctions]] / `spark.sql.extensions=graft.GraftExtensions`),
    * and until now that surface was only spec-tested. This query runs
    * the reference's own partitioned-output shape — a djb2 shard
    * histogram (distwc.c's result-<p>.txt layout, mapreduce.c:239's
    * hash) — ENTIRELY through SQL text using the registered
    * `djb2_partition`, against the recursive-CTE djb2 replication the
    * oracle already trusts. A green row certifies registration,
    * argument folding (the literal numParts), codegen and C-parity
    * semantics end to end on the SQL path a notebook user takes. */
  def q60SqlFunctions(s: SparkSession, d: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val view = s"graft_q60_docs_${invocation.incrementAndGet()}"
    Tables.documents(s, d).createOrReplaceTempView(view)
    try s.sql(s"""
      SELECT djb2_partition(CAST(doc_id AS STRING), 16) AS shard,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM $view
      GROUP BY shard
      ORDER BY shard""")
    finally s.catalog.dropTempView(view)
  }

  val q60Sql: String =
    """WITH RECURSIVE ds AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS key, n_chars FROM documents
      |), h AS (
      |  SELECT doc_id, key, n_chars, 1 AS i, CAST(5381 AS HUGEINT) AS hash FROM ds
      |  UNION ALL
      |  SELECT doc_id, key, n_chars, i+1,
      |    (hash*33 + ord(substr(key,i,1))) % CAST('18446744073709551616' AS HUGEINT)
      |  FROM h WHERE i <= length(key)
      |)
      |SELECT CAST(hash % 16 AS INT) AS shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM h WHERE i = length(key)+1
      |GROUP BY shard ORDER BY shard""".stripMargin

  /** RUNTIME BLOOM-FILTER JOIN certificate — the non-partitioned twin
    * of q58's DPP, and the third runtime re-plan lever after AQE skew
    * (q59): when a shuffle join's small side carries a selective
    * predicate, Spark's InjectRuntimeFilter builds a bloom filter of
    * the small side's join keys and applies it to the FACT side
    * before the shuffle (`might_contain(xxhash64(key))`), so rows that
    * cannot match never pay shuffle write/read. At 100 TB this is the
    * "lineitem ⋈ urgent orders" query — DPP needs a partitioned
    * layout; the bloom filter works on ANY layout, which is why it is
    * the lever that fires most often in practice. Thresholds are
    * scoped to test volumes (the application-side floor defaults to
    * 10 GB — at production scale the same plan fires untouched).
    *
    * Certificate: the executed plan must contain ≥1
    * BloomFilterMightContain application on the fact side
    * ([[PlanProbe.bloomFilterApplications]]) — vacuity throws, a green
    * row can only come from the runtime-filtered plan. Business
    * result: urgent-order line count + exact-micros revenue. */
  def q61RuntimeFilter(s: SparkSession, d: String): DataFrame =
    Shared.withConfs(s, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fact side must LOOK big enough to be worth filtering: the
      // production floor (10 GB) exists to skip tiny scans — exactly
      // what test data is. 0 keeps the rule's shape, not its tuning
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // InjectRuntimeFilter only fires on a PROBABLY-SHUFFLE join: at
      // test scale the dim is broadcastable by size, which vetoes
      // injection (the merge hint doesn't — only broadcast hints are
      // checked). Disabling auto-broadcast reproduces the production
      // condition the rule exists for: neither side of a 100 TB
      // fact-fact join fits the broadcast threshold
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val fact = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      // merge hint: a broadcast join would filter for free and prove
      // nothing about the runtime-filter path a 100 TB fact-fact join
      // actually takes
      val agg = fact.join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * lit(1000000L)).cast("long")).as("rev_us"))
      val materialized = agg.localCheckpoint()
      val nBloom = PlanProbe.bloomFilterApplications(agg)
      if (nBloom < 1)
        throw new IllegalStateException(
          "no BloomFilterMightContain in executed plan — runtime-filter certificate is vacuous")
      materialized.withColumn("bloom_applied", lit(true))
    }

  val q61Sql: String =
    """SELECT count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us,
      |  TRUE AS bloom_applied
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** RECURSIVE CTE on the `spark.sql` surface — iteration expressed in
    * SQL TEXT (Spark 4's `WITH RECURSIVE`, the same construct the
    * DuckDB oracle runs), where every other iterative operator here
    * (graph loops, k-means, BPE) drives the DataFrame API from Scala.
    * The workload is the construct's classic use: HIERARCHICAL ROLLUP
    * (BOM explosion / org-chart walk) — each doc walks its ancestor
    * chain in the deterministic heap tree parent(n) = n div 2,
    * accumulating depth and path-total chars until the root. One
    * parent per node keeps the recursion linear (rows = Σ depth, no
    * frontier blowup — the guard a cyclic edge set would need); the
    * engine evaluates it as iterated joins against the docs table,
    * exactly the plan the hand-built loops pin. Restricted to
    * doc_id < 32 so the whole chain exists at every scale factor. */
  def q62RecursiveCte(s: SparkSession, d: String): DataFrame = {
    val view = s"graft_q62_docs_${invocation.incrementAndGet()}"
    Tables.documents(s, d).createOrReplaceTempView(view)
    try s.sql(s"""
      WITH RECURSIVE walk(id, anc, path_chars, depth) AS (
        SELECT doc_id, doc_id, n_chars, 0 FROM $view WHERE doc_id < 32
        UNION ALL
        SELECT w.id, a.doc_id, w.path_chars + a.n_chars, w.depth + 1
        FROM walk w JOIN $view a ON a.doc_id = w.anc div 2
        WHERE w.anc >= 2
      )
      SELECT id, CAST(max(depth) AS INT) AS depth,
        CAST(max(path_chars) AS BIGINT) AS path_chars
      FROM walk GROUP BY id ORDER BY id""")
    finally s.catalog.dropTempView(view)
  }

  val q62Sql: String =
    """WITH RECURSIVE walk(id, anc, path_chars, depth) AS (
      |  SELECT doc_id, doc_id, n_chars, 0 FROM documents WHERE doc_id < 32
      |  UNION ALL
      |  SELECT w.id, a.doc_id, w.path_chars + a.n_chars, w.depth + 1
      |  FROM walk w JOIN documents a ON a.doc_id = w.anc // 2
      |  WHERE w.anc >= 2
      |)
      |SELECT id, CAST(max(depth) AS INT) AS depth,
      |  CAST(max(path_chars) AS BIGINT) AS path_chars
      |FROM walk GROUP BY id ORDER BY id""".stripMargin

  /** LATERAL JOIN on the SQL surface — the per-row-subquery idiom
    * ("for each nation, its top-2 customers by balance") analysts
    * write naturally and engines must DECORRELATE: a naive evaluator
    * runs the subquery once per outer row (the N+1 query at 100 TB —
    * 25 nations is survivable, 10^9 outer rows is not); Catalyst
    * rewrites the correlated LIMIT into one window-ranked join, the
    * same plan q6_topk builds by hand, so cost is one shuffle of
    * customer regardless of outer cardinality. Completes the
    * correlation surface beside q54's correlated scalar subqueries.
    * Balance ranked in exact cents (micros overflow nothing here;
    * cents match the TPC-H money convention the other queries use). */
  def q63LateralJoin(s: SparkSession, d: String): DataFrame = {
    val id = invocation.incrementAndGet()
    val vN = s"graft_q63_nation_$id"; val vC = s"graft_q63_customer_$id"
    Tables.nation(s, d).createOrReplaceTempView(vN)
    Tables.customer(s, d)
      .withColumn("bal_c", round(col("c_acctbal") * lit(100)).cast("long"))
      .createOrReplaceTempView(vC)
    try s.sql(s"""
      SELECT n.n_name, t.c_name, t.bal_c
      FROM $vN n
      JOIN LATERAL (
        SELECT c_name, bal_c FROM $vC c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY bal_c DESC, c_name LIMIT 2
      ) t
      ORDER BY n.n_name, t.bal_c DESC, t.c_name""")
    finally { s.catalog.dropTempView(vN); s.catalog.dropTempView(vC) }
  }

  val q63Sql: String =
    """SELECT n.n_name, t.c_name, t.bal_c
      |FROM nation n
      |JOIN LATERAL (
      |  SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY bal_c DESC, c_name LIMIT 2
      |) t ON true
      |ORDER BY n.n_name, t.bal_c DESC, t.c_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_sql_functions" -> (q60SqlFunctions _),
    "q61_runtime_filter" -> (q61RuntimeFilter _),
    "q62_recursive_cte" -> (q62RecursiveCte _),
    "q63_lateral_join" -> (q63LateralJoin _),
    "q56_bucket_join" -> (q56BucketJoin _),
    "q57_partition_prune" -> (q57PartitionPrune _),
    "q58_dynamic_prune" -> (q58DynamicPrune _),
    "q59_aqe_skew" -> (q59AqeSkew _))

  val oracles: Map[String, String] = Map(
    "q60_sql_functions" -> q60Sql,
    "q61_runtime_filter" -> q61Sql,
    "q62_recursive_cte" -> q62Sql,
    "q63_lateral_join" -> q63Sql,
    "q56_bucket_join" -> q56Sql,
    "q57_partition_prune" -> q57Sql,
    "q58_dynamic_prune" -> q58Sql,
    "q59_aqe_skew" -> q59Sql)
}
