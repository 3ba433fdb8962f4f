package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanProbe

import graft.Tables

/** Sixth tranche of relational coverage (SURVEY.md §2B continued): two
  * aggregate SHAPES the first 63 queries don't exercise —
  *
  *   - q64: interval algebra (max-concurrency + union length) via the
  *     sweep-line reduction, the temporal-overlap kernel window
  *     functions can't express directly;
  *   - q65: bitmap-index distinct counting (the roaring-bitmap
  *     pattern): user sets compressed to 64-bit blocks so
  *     set-intersection cardinality becomes popcount over AND — the
  *     audience-overlap query engines serve from bitmap indexes at
  *     scale.
  *
  * Both reduce raw-event volume at the FIRST aggregation (endpoint
  * collapse / block OR) so everything after the initial shuffle is
  * bounded by distinct timestamps / user-blocks, not event count.
  */
object RelationalExt5 {

  /** INTERVAL OVERLAP via sweep-line — "how many 30-minute activity
    * windows are open at once, and how much wall-clock do they cover?"
    * per event_type. The concurrency/union question is the classic
    * case where interval semantics beat window functions: a windowed
    * count can't see an interval's END, so the textbook reduction is
    * endpoint decomposition — each interval [t, t+30m) becomes a +1 at
    * t and a −1 at t+30m, endpoints COLLAPSE per distinct instant
    * (`net`, the map-side-combinable step that makes this linear: the
    * sweep table is bounded by distinct timestamps, not event count),
    * and one per-type ordered window computes the running sum. Max
    * concurrency = max running sum (ends sort before starts never
    * matters after collapsing: the per-instant peak prev+starts−ends
    * IS the collapsed cum). Union length = Σ gap-to-next-instant where
    * the running count is positive — exact integer micros end to end.
    * The last instant per type always has cum = 0 (every interval
    * closes), so the null `lead` never meets a positive cum.
    *
    * Scale shape: one shuffle keyed (type, t) with partial agg, one
    * per-type sort — the same cost envelope as q19's rollup; a hot
    * event_type skews the sort partition exactly like any per-key
    * window (AQE's skew handling applies, and the endpoint collapse
    * has already shrunk rows to distinct instants). */
  def q64IntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d).select(col("event_type"),
      unix_micros(col("ts")).as("t0"))
      .withColumn("t1", col("t0") + lit(1800000000L))
    val endpoints = iv.select(col("event_type"), col("t0").as("t"), lit(1L).as("delta"))
      .unionAll(iv.select(col("event_type"), col("t1").as("t"), lit(-1L).as("delta")))
    val net = endpoints.groupBy("event_type", "t")
      .agg(sum(col("delta")).as("net"),
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("starts"))
    val w = Window.partitionBy("event_type").orderBy("t")
    val swept = net
      .withColumn("cum", sum(col("net"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nxt", lead(col("t"), 1).over(w))
    swept.groupBy("event_type").agg(
      sum(col("starts")).as("n_intervals"),
      max(col("cum")).cast("int").as("max_concurrent"),
      sum(when(col("cum") > 0, col("nxt") - col("t"))).cast("long").as("covered_us"))
      .orderBy("event_type")
  }

  val q64Sql: String =
    """WITH iv AS (
      |  SELECT event_type, epoch_us(ts) AS t0, epoch_us(ts) + 1800000000 AS t1
      |  FROM events
      |), ep AS (
      |  SELECT event_type, t0 AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT event_type, t1 AS t, -1 AS delta FROM iv
      |), net AS (
      |  SELECT event_type, t, sum(delta) AS net,
      |    sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS starts
      |  FROM ep GROUP BY event_type, t
      |), swept AS (
      |  SELECT event_type, t, starts,
      |    sum(net) OVER (PARTITION BY event_type ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    lead(t) OVER (PARTITION BY event_type ORDER BY t) AS nxt
      |  FROM net
      |)
      |SELECT event_type, CAST(sum(starts) AS BIGINT) AS n_intervals,
      |  CAST(max(cum) AS INT) AS max_concurrent,
      |  CAST(sum(CASE WHEN cum > 0 THEN nxt - t END) AS BIGINT) AS covered_us
      |FROM swept GROUP BY event_type ORDER BY event_type""".stripMargin

  /** BITMAP-INDEX DISTINCT COUNTING — audience sizes and pairwise
    * audience OVERLAP between event types, computed the way a bitmap
    * index computes them: each user becomes one bit (block = user_id
    * div 64, bit = user_id mod 64), per (type, block) the bits OR
    * together (`bit_or` partial-aggregates map-side, so raw event
    * volume dies at the first shuffle), and from there every set
    * operation is word arithmetic — |A| = Σ popcount(block), |A∩B| =
    * Σ popcount(blockA AND blockB) over a join keyed on block id.
    * This is the roaring-bitmap/audience-segmentation pattern: at
    * 100 TB the bitmap table is ~|users|/64 words per segment, the
    * overlap join never touches user-level rows, and intersections
    * with k segments stay popcount-cheap — vs a count(DISTINCT) join
    * that re-shuffles raw pairs per segment pair. The oracle computes
    * the same numbers from exact DISTINCT set arithmetic, so a green
    * row certifies the bitmap algebra is lossless, not approximate.
    * The pair grid comes from a broadcast self-join of the (tiny)
    * per-type audience table, left-joined to the overlap so
    * disjoint-audience pairs surface as 0, not as missing rows. */
  def q65BitmapDistinct(s: SparkSession, d: String): DataFrame = {
    val bits = Tables.events(s, d).select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        expr("shiftright(user_id, 6)").as("block"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("bit"))
    val bm = bits.groupBy("event_type", "block")
      .agg(expr("bit_or(bit)").as("bm")).persist() // keep: reuse
    try {
      val aud = bm.groupBy("event_type")
        .agg(sum(expr("bit_count(bm)")).cast("long").as("aud"))
      val grid = broadcast(aud).as("a")
        .join(broadcast(aud).as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.aud").as("aud_a"), col("b.aud").as("aud_b"))
      val inter = bm.as("x")
        .join(bm.as("y"),
          col("x.block") === col("y.block") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(sum(expr("bit_count(x.bm & y.bm)")).cast("long").as("n_shared"))
      grid.join(inter, Seq("type_a", "type_b"), "left")
        .na.fill(0L, Seq("n_shared"))
        .orderBy("type_a", "type_b")
        .localCheckpoint() // keep: outlives
    } finally bm.unpersist()
  }

  val q65Sql: String =
    """WITH p AS (SELECT DISTINCT event_type, user_id FROM events),
      |aud AS (SELECT event_type, count(*) AS aud FROM p GROUP BY event_type),
      |grid AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.aud AS aud_a, b.aud AS aud_b
      |  FROM aud a JOIN aud b ON a.event_type < b.event_type
      |), inter AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n
      |  FROM p x JOIN p y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT g.type_a AS type_a, g.type_b AS type_b,
      |  CAST(g.aud_a AS BIGINT) AS aud_a, CAST(g.aud_b AS BIGINT) AS aud_b,
      |  CAST(coalesce(i.n, 0) AS BIGINT) AS n_shared
      |FROM grid g LEFT JOIN inter i
      |  ON i.type_a = g.type_a AND i.type_b = g.type_b
      |ORDER BY g.type_a, g.type_b""".stripMargin

  /** VARIANT — Spark 4's binary semi-structured type (the
    * shredding-ready successor to string-JSON): `parse_json` decodes
    * each props document ONCE into the variant encoding, then typed
    * `variant_get` paths extract without re-parsing — vs q28's
    * `from_json`, which needs the schema declared up front. At 100 TB
    * the difference is operational: variant columns land in parquet
    * with per-field shredding and predicate pushdown on extracted
    * paths, while schemaless string-JSON re-parses per query per row.
    * The aggregate pins typed extraction (sum/min/max of `$.k` as
    * BIGINT) and ABSENT-path semantics (`$.missing` extracts to NULL,
    * counted per group and pinned to the row count — the contract that
    * makes optional fields safe without try_ wrappers). */
  def q66Variant(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.missing', 'bigint')").as("miss"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(when(col("miss").isNull, 1L).otherwise(0L)).as("n_missing"))
      .orderBy("event_type")

  val q66Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
      |  count(*) AS n_missing
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** EXACT DECIMAL(38) MONEY ARITHMETIC — the warehouse money type as a
    * first-class surface (every other money query here carries integer
    * micros/cents; production ledgers carry DECIMAL columns, and the
    * engine must aggregate them exactly at 128-bit precision —
    * Tungsten's Decimal accumulators, not doubles). Doubles enter the
    * exact domain ONCE (the established round(x·100) cents gate), then
    * everything is decimal algebra chosen so no precision-loss rounding
    * can occur: cents(18,0)·0.01(3,2) → price (22,2) exactly;
    * price·qty(4,0) and price·(1−disc)(3,2) stay well under precision
    * 38 through the group sums, so Spark's allowPrecisionLoss never
    * engages. Results are emitted as the decimal's canonical STRING
    * rendering (full scale, e.g. `1008514289.1154`) — the one
    * representation both engines print identically, making the gate a
    * bit-exact check on 128-bit aggregation, not a float compare. */
  def q67Decimal(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cent = lit(new java.math.BigDecimal("0.01")).cast(DecimalType(3, 2))
    val one = lit(new java.math.BigDecimal("1.00")).cast(DecimalType(3, 2))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        (round(col("l_extendedprice") * 100).cast("long")
          .cast(DecimalType(18, 0)) * cent).as("p"),
        (round(col("l_discount") * 100).cast("long")
          .cast(DecimalType(4, 0)) * cent).as("dc"),
        round(col("l_quantity")).cast("long").cast(DecimalType(4, 0)).as("qy"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("p")).cast(DecimalType(38, 2)).cast("string").as("sum_price"),
        sum(col("p") * col("qy")).cast(DecimalType(38, 2)).cast("string").as("sum_gross"),
        sum(col("p") * (one - col("dc"))).cast(DecimalType(38, 4)).cast("string")
          .as("sum_disc_price"))
      .orderBy("l_returnflag")
  }

  val q67Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(CAST(sum(p) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
      |  CAST(CAST(sum(p * qy) AS DECIMAL(38,2)) AS VARCHAR) AS sum_gross,
      |  CAST(CAST(sum(p * (CAST(1.00 AS DECIMAL(3,2)) - dc)) AS DECIMAL(38,4)) AS VARCHAR)
      |    AS sum_disc_price
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS DECIMAL(18,0))
      |      * CAST(0.01 AS DECIMAL(3,2)) AS p,
      |    CAST(CAST(round(l_discount*100) AS BIGINT) AS DECIMAL(4,0))
      |      * CAST(0.01 AS DECIMAL(3,2)) AS dc,
      |    CAST(CAST(round(l_quantity) AS BIGINT) AS DECIMAL(4,0)) AS qy
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ANSI ERROR-HANDLING surface — the `try_*` function family
    * (try_divide / try_add / try_multiply / try_cast), which is how a
    * 100 TB job survives bad rows under ANSI mode: strict semantics
    * turn one malformed row into a dead 6-hour job; the try_ forms
    * turn the row into a NULL the pipeline can count, quarantine and
    * continue past (the q21 self-certifying discipline applied to
    * errors). Each failure class is pinned per group against its
    * analytically-known count: division-by-zero NULLs == rows whose
    * derived denominator is zero, bigint add/multiply overflow NULLs
    * == rows whose operand makes MAX_LONG overflow (event_id > 0 /
    * > 1), failed string→number casts == every row (event types are
    * alphabetic). The oracle replays the SEMANTICS as explicit CASE
    * guards — DuckDB has no try_add — which is exactly the contract:
    * try_x(a,b) ≡ CASE WHEN <would fault> THEN NULL ELSE x END. */
  def q68TryArithmetic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        expr("try_divide(value, cast(user_id % 7 as double))").as("dv"),
        expr("try_add(9223372036854775807L, event_id)").as("ad"),
        expr("try_multiply(event_id, 9223372036854775807L)").as("ml"),
        expr("try_cast(event_type AS BIGINT)").as("bc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dv").isNull, 1L).otherwise(0L)).as("n_div_null"),
        sum(when(col("ad").isNull, 1L).otherwise(0L)).as("n_add_overflow"),
        sum(when(col("ml").isNull, 1L).otherwise(0L)).as("n_mul_overflow"),
        sum(when(col("bc").isNull, 1L).otherwise(0L)).as("n_bad_cast"))
      .orderBy("event_type")

  val q68Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
      |  CAST(sum(CASE WHEN event_id > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_add_overflow,
      |  CAST(sum(CASE WHEN event_id > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mul_overflow,
      |  count(*) AS n_bad_cast
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** NULL-SAFE EQUALITY JOIN (`<=>` / IS NOT DISTINCT FROM) — the
    * three-valued-logic trap every dimension with nullable keys sets:
    * a plain equi-join silently DROPS all NULL-keyed rows (NULL = NULL
    * is NULL, not true), so "unknown" fact rows never reach their
    * "unknown" dimension bucket. The derived key maps user_id % 10 ==
    * 0 rows to NULL (the unknown bucket) and the rest to 5 segments;
    * the dim carries an explicit NULL row. The null-safe join must
    * route every fact row — including the NULL bucket, pinned by
    * `n_unknown` — and Spark still plans it as a proper hash join
    * (null-safe equality is a join KEY, not a residual filter). The
    * oracle is DuckDB's spelled-out IS NOT DISTINCT FROM. */
  def q69NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val facts = Tables.events(s, d)
      .select(col("event_type"),
        when(col("user_id") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("user_id") % 5).as("seg"),
        round(col("value") * lit(100)).cast("long").as("value_c"))
    val dim = ((0L to 4L).map(i => (Option(i), s"segment_$i")) :+
      ((None: Option[Long]), "unknown")).toDF("seg", "seg_name")
    facts.join(broadcast(dim), facts("seg") <=> dim("seg"))
      .groupBy("seg_name")
      .agg(count(lit(1)).as("n"),
        sum(col("value_c")).as("value_c"),
        sum(when(facts("seg").isNull, 1L).otherwise(0L)).as("n_unknown"))
      .orderBy("seg_name")
  }

  val q69Sql: String =
    """WITH f AS (
      |  SELECT event_type,
      |    CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id % 5 END AS seg,
      |    CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events
      |), dim AS (
      |  SELECT * FROM (VALUES (0, 'segment_0'), (1, 'segment_1'), (2, 'segment_2'),
      |    (3, 'segment_3'), (4, 'segment_4'), (NULL, 'unknown')) t(seg, seg_name)
      |)
      |SELECT d.seg_name, count(*) AS n,
      |  CAST(sum(f.value_c) AS BIGINT) AS value_c,
      |  CAST(sum(CASE WHEN f.seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown
      |FROM f JOIN dim d ON f.seg IS NOT DISTINCT FROM d.seg
      |GROUP BY d.seg_name ORDER BY d.seg_name""".stripMargin

  /** CACHE-REUSE certificate — the layer half this suite's operators
    * lean on (persist/localCheckpoint before multi-consumer reuse),
    * pinned as an engine behavior instead of assumed: a persisted
    * aggregate's SECOND consumer must be planned as an
    * InMemoryTableScan (CacheManager plan-matching), probed in the
    * EXECUTED plan — if cache lookup silently stopped matching (the
    * classic regression: a non-deterministic expression or conf change
    * breaks plan canonicalization, every "cached" consumer silently
    * recomputes), `cache_hit` goes red rather than the bench quietly
    * doubling. Business result rides the cached frame twice: per-type
    * day counts joined to their all-days total. */
  def q70CacheReuse(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .persist() // keep: reuse
    try {
      daily.count() // materialize the cache
      val perType = daily.groupBy("event_type").agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_days"))
      val total = daily.agg(sum(col("n")).as("n_total"))
      val res = perType.crossJoin(broadcast(total)).orderBy("event_type")
      val materialized = res.localCheckpoint() // keep: certificate
      import org.apache.spark.sql.graftbridge.PlanProbe
      val hits = PlanProbe.nodes(res)
        .count(_.getClass.getSimpleName.contains("InMemoryTableScan"))
      if (hits < 2)
        throw new IllegalStateException(
          s"expected both consumers to read the cache, saw $hits InMemoryTableScan(s)")
      materialized.withColumn("cache_hit", lit(true))
    } finally daily.unpersist()
  }

  val q70Sql: String =
    """WITH daily AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
      |  count(*) AS n_days,
      |  (SELECT CAST(sum(n) AS BIGINT) FROM daily) AS n_total,
      |  TRUE AS cache_hit
      |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin

  private val invocation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** CBO STATISTICS certificate — `ANALYZE TABLE` and what the planner
    * actually does with it (the q53 profiler computes the stats; this
    * pins that the ENGINE's stats pipeline ingests and USES them): a
    * saved orders table is ANALYZEd (table-level + per-column), and
    * two measurements become oracle-pinned columns: `stat_rows` — the
    * optimizer's `Statistics.rowCount` for the table, which must equal
    * the exact count (the stats the cost model plans 100 TB joins
    * with, not an estimate) — and `cbo_broadcast` — the join strategy
    * the STATIC planner picked (pre-AQE; adaptive re-plans from runtime
    * sizes are q59/q80's certificate, not this one's), which must MATCH
    * what the ANALYZEd size
    * implies against the scoped auto-broadcast threshold: broadcast
    * when the statistics fit (every driver scale — the oracle pins
    * TRUE), sort/hash otherwise (the r10 100× probe: a 100× orders
    * table rightly exceeds 64 MB and the correct stats-driven answer
    * is NOT to broadcast — the old unconditional-broadcast assert
    * threw on exactly the behavior it should certify). Either
    * inconsistency direction throws. */
  def q71CboStats(s: SparkSession, d: String): DataFrame = {
    val id = invocation.incrementAndGet()
    val tbl = s"graft_q71_orders_$id"
    graft.Scratch.withDir("graft_q71_") { out =>
      // plan statistics resolve their conf (CBO on or off) through
      // SQLConf.get — the thread's ACTIVE session, not the plan's — so
      // the certificate runs with `s` active, whatever the caller left
      val active = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try {
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").option("path", s"$out/orders").saveAsTable(tbl)
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS")
        s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS o_orderkey")
        // rowCount propagates into plan Statistics only under the cost-based
        // optimizer (size-only estimation otherwise) — scope CBO on, the
        // production setting for a stats-maintained warehouse
        val statRows = Shared.withConfs(s, Map("spark.sql.cbo.enabled" -> "true")) {
          s.table(tbl).queryExecution.optimizedPlan.stats.rowCount
            .map(_.toLong)
            .getOrElse(throw new IllegalStateException(
              "ANALYZE produced no rowCount statistic — stats pipeline broken"))
        }
        val threshold = 64L * 1024 * 1024
        val agg = Shared.withConfs(s, Map(
          // at the driver's scales: large enough for the ANALYZEd orders
          // projection, far too small for lineitem — a broadcast can
          // only come from stats
          "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString)) {
          val joined = Tables.lineitem(s, d).select("l_orderkey")
            .join(s.table(tbl), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority").agg(count(lit(1)).as("n_lines"))
            .orderBy("o_orderpriority")
          // the estimate the PLANNER actually consults (ADVICE r11): the
          // join's build-side LOGICAL SUBTREE statistics in the optimized
          // plan — column pruning and projection estimation applied — not
          // the raw ANALYZEd table size. Near the 64 MB boundary the two
          // legitimately disagree (the planner prices the pruned
          // projection, which is smaller than the table), and an
          // expectation derived from the raw size THREW on correct
          // planner behavior at boundary scales.
          val joinNode = joined.queryExecution.optimizedPlan.collectFirst {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.getOrElse(throw new IllegalStateException(
            "q71: no Join in the optimized plan — the stats certificate has no subject"))
          val statsBytes = Seq(joinNode.left, joinNode.right)
            .find(_.output.exists(_.name == "o_orderpriority"))
            .getOrElse(joinNode.right).stats.sizeInBytes
          // certify the STATIC plan (queryExecution.sparkPlan — the
          // physical plan chosen from the ANALYZEd statistics, before the
          // InsertAdaptiveSparkPlan preparation wraps it): AQE may later
          // re-plan the join from RUNTIME shuffle sizes, and near the
          // threshold boundary that re-plan can legitimately disagree
          // with the static table estimate — correct adaptive behavior,
          // not a stats-pipeline failure (ADVICE r10: the executed-plan
          // probe turned exactly that into a throw at intermediate
          // scales). What this query certifies is that ANALYZE's numbers
          // REACH the planner; what AQE then improves is its own
          // certificate (q59/q80).
          val isBroadcast = joined.queryExecution.sparkPlan
            .find(_.getClass.getSimpleName.contains("BroadcastHashJoin")).isDefined
          val expectBroadcast = statsBytes <= threshold
          if (isBroadcast != expectBroadcast)
            throw new IllegalStateException(
              s"static join strategy inconsistent with the build-side subtree estimate " +
                s"($statsBytes B vs $threshold B threshold): broadcast=$isBroadcast — " +
                "CBO size estimate unused")
          val materialized = joined.localCheckpoint() // keep: outlives
          materialized.withColumn("cbo_broadcast", lit(isBroadcast))
        }
        agg
          .withColumn("stat_rows", lit(statRows))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      }
    }
  }

  val q71Sql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  (SELECT count(*) FROM orders) AS stat_rows,
      |  TRUE AS cbo_broadcast
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** GROUPING() DISAMBIGUATION — the correctness trap inside every
    * rollup over nullable keys: a subtotal row and a real-NULL group
    * BOTH show NULL in the key column, and q31's derive-level-from-
    * nullness trick (valid there: its keys are non-null) silently
    * merges them the moment real NULLs appear. Here the region key
    * has genuine NULLs (1/10 of users are unattributed), the rollup
    * runs over (region, event_type), and the `grouping()` flags — the
    * engine's own is-this-a-subtotal bits, carried through the Expand
    * — are emitted beside the keys, so "NULL region, g=0" (the
    * unattributed segment, a real business number) and "NULL region,
    * g=1" (the all-regions subtotal) stay distinct rows the oracle
    * pins separately. */
  def q72GroupingId(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        when(col("user_id") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("r"), (col("user_id") % 3).cast("string"))).as("region"),
        col("event_type"),
        round(col("value") * lit(100)).cast("long").as("value_c"))
      .rollup("region", "event_type")
      .agg(grouping(col("region")).cast("int").as("g_region"),
        grouping(col("event_type")).cast("int").as("g_type"),
        count(lit(1)).as("n"), sum(col("value_c")).as("value_c"))
      .select(coalesce(col("region"), lit("(null)")).as("region"),
        coalesce(col("event_type"), lit("(all)")).as("event_type"),
        col("g_region"), col("g_type"), col("n"), col("value_c"))
      .orderBy("g_region", "g_type", "region", "event_type")

  val q72Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN user_id % 10 = 0 THEN NULL
      |    ELSE 'r' || CAST(user_id % 3 AS VARCHAR) END AS region,
      |    event_type, CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events
      |)
      |SELECT coalesce(region, '(null)') AS region,
      |  coalesce(event_type, '(all)') AS event_type,
      |  CAST(GROUPING(region) AS INT) AS g_region,
      |  CAST(GROUPING(event_type) AS INT) AS g_type,
      |  count(*) AS n, CAST(sum(value_c) AS BIGINT) AS value_c
      |FROM b GROUP BY ROLLUP(region, event_type)
      |ORDER BY g_region, g_type, region, event_type""".stripMargin

  /** NESTED-SCHEMA PRUNING certificate — the struct twin of q2's
    * column pruning, and at 100 TB its own lever: event/log tables
    * carry wide nested structs (request{…}, device{…}, geo{…}), and a
    * query touching `meta.lang` must read THAT LEAF from parquet, not
    * materialize every struct field (Parquet stores leaves as
    * independent columns — the reader can skip sibling leaves exactly
    * like top-level columns). Documents are rewritten with their
    * scalars nested under a `meta` struct (plus a decoy `payload`
    * field carrying the full text — the column a failed pruning would
    * drag in), a per-language aggregate touches only `meta.lang` and
    * `meta.n_chars`, and the scan's ReadSchema is probed: it must
    * mention the touched leaves and must NOT contain the decoy.
    * `pruned_ok` is the oracle-pinned TRUE; vacuity throws. */
  def q73NestedPruning(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_q73_") { out =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          struct(col("lang"), col("source"), col("n_chars"),
            col("text").as("payload")).as("meta"))
        .write.mode("overwrite").parquet(out)
      val agg = s.read.parquet(out)
        .select(col("meta.lang").as("lang"), col("meta.n_chars").as("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")
      val materialized = agg.localCheckpoint() // keep: certificate
      val scans = PlanProbe.nodes(agg)
        .filter(_.getClass.getSimpleName.contains("FileSourceScan"))
        .map(_.toString)
      val ok = scans.nonEmpty &&
        scans.forall(sc => sc.contains("lang") && !sc.contains("payload"))
      if (!ok)
        throw new IllegalStateException(
          "nested pruning did not engage — the decoy payload leaf is in the scan:\n" +
            scans.mkString("\n").take(500))
      materialized.withColumn("pruned_ok", lit(true))
    }
  }

  val q73Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  TRUE AS pruned_ok
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** MAP-TYPE FUNCTION surface — the `map_*` higher-order family
    * (map_from_entries / transform_values / map_filter / explode-of-
    * map) as one deterministic round trip: per-type daily counts fold
    * into a day→count map (entries sorted before folding — the q33
    * shuffle-order-proof discipline, since map construction order is
    * otherwise nondeterministic), values are transformed (×2) and
    * filtered (≥20) INSIDE the map, and the map explodes back to rows
    * the oracle replays with plain relational algebra — certifying
    * that Spark's map algebra is a lossless detour, not a semantic
    * fork. The map shape matters at 100 TB because per-entity
    * metric-maps (one row per entity, k metrics inside) are how wide
    * telemetry avoids k-fold row blowup before the final explode. */
  def q74MapFunctions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(map_from_entries(array_sort(collect_list(struct(col("day"), col("n")))))
        .as("m"))
      .select(col("event_type"),
        map_filter(transform_values(col("m"), (_, v) => v * 2), (_, v) => v >= 20)
          .as("m2"))
      .select(col("event_type"), explode(col("m2")).as(Seq("day", "boosted")))
      .orderBy("event_type", "day")

  val q74Sql: String =
    """SELECT event_type, day, CAST(2 * n AS BIGINT) AS boosted
      |FROM (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |WHERE 2 * n >= 20
      |ORDER BY event_type, day""".stripMargin

  /** NOT IN + NULL — SQL's most famous silent-wrong-answer trap,
    * pinned as engine semantics: `x NOT IN (subquery)` is three-valued
    * — one NULL in the subquery makes every row's predicate UNKNOWN
    * and the result EMPTY, which in production reads as "the exclusion
    * list matched everything" and silently drops a pipeline's whole
    * output. Both the trap and its correct spelling run side by side
    * on the SQL surface: the exclusion list (users seen in 'error'
    * events) is polluted with one NULL, `n_not_in` must be 0 (the
    * standard semantics — an engine "fixing" this is wrong), and
    * `n_not_exists` / `n_not_in_clean` carry the intended answer via
    * the NULL-immune spellings. Catalyst plans NOT IN as
    * null-aware anti join — at 100 TB the difference between this
    * and a naive per-row subquery is the query finishing. */
  def q75NotInNull(s: SparkSession, d: String): DataFrame = {
    val id = invocation.incrementAndGet()
    val v = s"graft_q75_events_$id"
    Tables.events(s, d).createOrReplaceTempView(v)
    try s.sql(s"""
      WITH excl AS (
        SELECT user_id FROM $v WHERE event_type = 'error' AND user_id % 7 = 0
        UNION ALL SELECT CAST(NULL AS BIGINT)
      )
      SELECT
        (SELECT count(*) FROM $v e
         WHERE e.user_id NOT IN (SELECT user_id FROM excl)) AS n_not_in,
        (SELECT count(*) FROM $v e
         WHERE NOT EXISTS (SELECT 1 FROM excl x WHERE x.user_id = e.user_id))
          AS n_not_exists,
        (SELECT count(*) FROM $v e
         WHERE e.user_id NOT IN (
           SELECT user_id FROM excl WHERE user_id IS NOT NULL)) AS n_not_in_clean""")
    finally s.catalog.dropTempView(v)
  }

  val q75Sql: String =
    """WITH excl AS (
      |  SELECT user_id FROM events WHERE event_type = 'error' AND user_id % 7 = 0
      |  UNION ALL SELECT CAST(NULL AS BIGINT)
      |)
      |SELECT
      |  (SELECT count(*) FROM events e
      |   WHERE e.user_id NOT IN (SELECT user_id FROM excl)) AS n_not_in,
      |  (SELECT count(*) FROM events e
      |   WHERE NOT EXISTS (SELECT 1 FROM excl x WHERE x.user_id = e.user_id))
      |    AS n_not_exists,
      |  (SELECT count(*) FROM events e
      |   WHERE e.user_id NOT IN (
      |     SELECT user_id FROM excl WHERE user_id IS NOT NULL)) AS n_not_in_clean""".stripMargin

  /** CALENDAR-CLAMP month arithmetic — the end-of-month semantics
    * every billing/renewal pipeline depends on and every engine must
    * agree on: Jan 31 + 1 month is Feb 29 on a leap year and Feb 28
    * otherwise (the day CLAMPS to the target month's length — it does
    * not overflow into March), so "same day next month" is not a
    * fixed-width shift and a micros-offset approximation corrupts
    * every month-end anniversary. Orders dated on days the next month
    * lacks (29/30/31) are the interesting set: per order-month, how
    * many orders clamp when shifted +1 month, and the exact-cents
    * revenue of the clamped set — both replayed by DuckDB's own
    * `+ INTERVAL 1 MONTH`, which implements the same ANSI clamp. The
    * clamp test itself is engine arithmetic (`day(add_months(d, 1)) <
    * day(d)`), not a hand-rolled calendar. */
  def q76CalendarClamp(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        (dayofmonth(expr("o_orderdate + INTERVAL 1 MONTH")) <
          dayofmonth(col("o_orderdate"))).as("clamps"),
        round(col("o_totalprice") * lit(100)).cast("long").as("price_c"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("clamps"), 1L).otherwise(0L)).as("n_clamped"),
        sum(when(col("clamps"), col("price_c")).otherwise(0L)).as("clamped_c"))
      .orderBy("month")

  val q76Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  count(*) AS n_orders,
      |  CAST(sum(CASE WHEN day(o_orderdate + INTERVAL 1 MONTH) < day(o_orderdate)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
      |  CAST(sum(CASE WHEN day(o_orderdate + INTERVAL 1 MONTH) < day(o_orderdate)
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS clamped_c
      |FROM orders GROUP BY month ORDER BY month""".stripMargin

  /** KEYSET PAGINATION — the O(1)-per-page spelling of "page N",
    * certified equal to the O(N)-per-page spelling it replaces: OFFSET
    * pagination re-sorts and discards N·pageSize rows every page (at
    * 100 TB, page 10 000 of an API backed by a warehouse re-scans the
    * prefix each call — the classic pagination meltdown), while the
    * keyset form seeks `(sort_key) > (last row of previous page)` and
    * reads one page regardless of depth — IF the sort key is a total
    * order (the tie-break column is what makes keyset correct; an
    * ambiguous sort silently duplicates/drops boundary rows). Page 3
    * of orders by (o_orderdate, o_orderkey) is computed via the
    * keyset predicate (cursor = page-2's last row, itself computed
    * with a top-k, never a full sort); the oracle is the OFFSET
    * spelling — equality certifies the seek predicate is exactly the
    * page boundary. */
  def q77KeysetPagination(s: SparkSession, d: String): DataFrame = {
    val page = 20
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * lit(100)).cast("long").as("price_c"))
    // cursor: last row of page 2 == row 40 of the total order — a
    // top-40 (TakeOrderedAndProject), not a global sort
    val cursor = broadcast(ord
      .orderBy(col("o_orderdate"), col("o_orderkey")).limit(2 * page)
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc).limit(1)
      .select(col("o_orderdate").as("c_date"), col("o_orderkey").as("c_key")))
    ord.crossJoin(cursor)
      .filter(col("o_orderdate") > col("c_date") ||
        (col("o_orderdate") === col("c_date") && col("o_orderkey") > col("c_key")))
      .orderBy(col("o_orderdate"), col("o_orderkey")).limit(page)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"), col("price_c"))
      .orderBy(col("o_date"), col("o_orderkey"))
  }

  val q77Sql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |FROM orders
      |ORDER BY o_orderdate, o_orderkey
      |LIMIT 20 OFFSET 40""".stripMargin

  /** BUCKET PRUNING — the READ-side half of the bucket story (q56
    * proves the bucketed JOIN eliminates its shuffle; this proves a
    * point/IN lookup on the bucket key opens only the matching
    * buckets): orders written `bucketBy(8, o_orderkey)`, an IN-list
    * probe on three keys must scan ≤3 of the 8 bucket files — the
    * executed scan advertises `SelectedBucketsCount: k out of 8`,
    * probed and thrown on if pruning did not engage. At 100 TB this
    * is the index-free point-lookup path: hash the key, open one
    * bucket, skip 7/8 of the table. */
  def q78BucketPruning(s: SparkSession, d: String): DataFrame = {
    val id = invocation.incrementAndGet()
    val tbl = s"graft_q78_orders_$id"
    graft.Scratch.withDir("graft_q78_") { out =>
      try {
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice")
          .repartition(8, col("o_orderkey"))
          .write.mode("overwrite").option("path", s"$out/orders")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(tbl)
        val keys = Seq(1L, 7L, 32L)
        // DisableUnnecessaryBucketedScan sees no join/agg needing the
        // bucket distribution and reverts to a plain scan — which also
        // forfeits PRUNING. Pinning autoBucketedScan off keeps the
        // bucketed read (and its bucket filter) for the point-lookup
        // path this query certifies.
        val (probe, materialized) = Shared.withConfs(s, Map(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")) {
          val p = s.table(tbl)
            .filter(col("o_orderkey").isin(keys: _*))
            .select(col("o_orderkey"), col("o_orderpriority"),
              round(col("o_totalprice") * lit(100)).cast("long").as("price_c"))
            .orderBy("o_orderkey")
          (p, p.localCheckpoint()) // keep: certificate
        }
        val scanStr = PlanProbe.nodes(probe)
          .filter(_.getClass.getSimpleName.contains("FileSourceScan"))
          .map(_.toString).mkString("\n")
        val sel = "SelectedBucketsCount: (\\d+) out of 8".r
          .findFirstMatchIn(scanStr).map(_.group(1).toInt)
          .getOrElse(throw new IllegalStateException(
            "scan does not advertise bucket selection — bucket pruning is off"))
        if (sel > keys.length)
          throw new IllegalStateException(
            s"IN-list of ${keys.length} keys opened $sel buckets — pruning did not engage")
        materialized.withColumn("bucket_pruned", lit(true))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
      }
    }
  }

  val q78Sql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
      |  TRUE AS bucket_pruned
      |FROM orders WHERE o_orderkey IN (1, 7, 32)
      |ORDER BY o_orderkey""".stripMargin

  /** SCHEMA-DRIFT-TOLERANT UNION — `unionByName(allowMissingColumns)`,
    * the DataFrame-level half of schema evolution (p_schema_evolution
    * certifies the READER merging drifted parquet footers; this
    * certifies the in-flight union of frames whose schemas diverged —
    * the shape every multi-source ingestion job hits when one feed
    * adds a column first). Two generations of the same feed: gen 1
    * lacks the later `channel` column, gen 2 carries it; positional
    * UNION would mis-align or reject, `unionByName` aligns by NAME and
    * fills the missing column with NULL — pinned per generation:
    * gen-1 rows count into the NULL channel bucket, gen-2 rows into
    * their real channels, value sums exact. */
  def q79UnionByName(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        round(col("value") * lit(100)).cast("long").as("value_c"))
    val gen1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_type"), col("value_c")) // pre-drift schema
    val gen2 = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_type"), col("value_c"),
        concat(lit("ch"), (col("event_id") % 3).cast("string")).as("channel"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .groupBy(coalesce(col("channel"), lit("(pre-drift)")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("value_c"))
      .orderBy("channel")
  }

  val q79Sql: String =
    """SELECT coalesce(CASE WHEN event_id % 2 = 1
      |    THEN 'ch' || CAST(event_id % 3 AS VARCHAR) END, '(pre-drift)') AS channel,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
      |FROM events GROUP BY channel ORDER BY channel""".stripMargin

  /** AQE PARTITION-COALESCING certificate — the runtime re-plan lever
    * NOBODY tunes by hand and everybody pays for when it's off: a
    * selective filter shrinks the shuffle far below the static
    * partition count (here the session's 32; a 100 TB warehouse's
    * 10k+), and without coalescing every downstream stage schedules
    * one near-empty task per static partition — at 1000 executors
    * that is task-launch overhead dominating real work. AQE reads the
    * runtime map-output sizes and RE-READS the shuffle as fewer,
    * larger partitions (q59's skew split is the same mechanism
    * pointed the other way: this merges small, that splits big). The
    * executed plan is probed for an [[org.apache.spark.sql.execution
    * .adaptive.AQEShuffleReadExec]] carrying coalesced partitions and
    * for the post-read count actually dropping below the static 32;
    * `coalesced` is an oracle-pinned TRUE, so if an upgrade or conf
    * drift stops the merge the correctness gate goes red. Business
    * result: daily signup traffic — count and exact cents. */
  def q80AqeCoalesce(s: SparkSession, d: String): DataFrame = {
    // parallelize: a one-file scan yields one map task whose output
    // AQE would trivially read as one partition even without the
    // coalescing rule engaging on anything; >1 mapper makes the
    // merged read a real cross-mapper coalesce, as at scale
    val ev = Tables.parallelize(Tables.events(s, d))
      .filter(col("event_type") === "signup")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_signups"),
        sum(round(col("value") * lit(100)).cast("long")).as("value_c"))
      .orderBy("day")
    val materialized = ev.localCheckpoint() // keep: certificate
    val (nCoalesced, minParts) = PlanProbe.coalescedShuffleReads(ev)
    if (nCoalesced < 1)
      throw new IllegalStateException(
        "no AQE shuffle read carries coalesced partitions — certificate is vacuous")
    if (minParts >= s.sessionState.conf.numShufflePartitions)
      throw new IllegalStateException(
        s"coalesced read still has $minParts partitions (static " +
          s"${s.sessionState.conf.numShufflePartitions}) — nothing merged")
    materialized.withColumn("coalesced", lit(true))
  }

  val q80Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_signups,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
      |  TRUE AS coalesced
      |FROM events WHERE event_type = 'signup'
      |GROUP BY day ORDER BY day""".stripMargin

  /** WINDOW GROUP-LIMIT pushdown certificate — "top-k per group", the
    * single most common window query at scale, and the one whose naive
    * plan (sort EVERY group fully, rank EVERY row, then filter) does
    * unbounded work for a k-row answer. Spark's optimizer rewrites a
    * `row_number()/rank() <= k` filter into a WindowGroupLimit
    * operator that keeps a k-row heap per group on BOTH sides of the
    * shuffle (partial before, final after — the map-side-combine of
    * top-k), so shuffle volume is k·groups, not the table. The
    * executed plan is probed for [[org.apache.spark.sql.execution
    * .window.WindowGroupLimitExec]]; `group_limited` is oracle-pinned
    * TRUE so a regression to the full-sort plan flips the gate.
    * Business result: the 3 priciest orders per order priority,
    * row_number for a total-order-deterministic rank. */
  def q81WindowGroupLimit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val top = Tables.parallelize(Tables.orders(s, d))
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * lit(100)).cast("long").as("price_c"),
        col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "price_c")
      .orderBy("o_orderpriority", "rn")
    val materialized = top.localCheckpoint() // keep: certificate
    if (PlanProbe.windowGroupLimits(top) < 1)
      throw new IllegalStateException(
        "no WindowGroupLimit in executed plan — top-k ran as a full window sort")
    materialized.withColumn("group_limited", lit(true))
  }

  val q81Sql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders
      |)
      |SELECT o_orderpriority, rn, o_orderkey, price_c, TRUE AS group_limited
      |FROM ranked WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin

  /** Exact money stats as a typed [[org.apache.spark.sql.expressions
    * .Aggregator]] — count, half-away-from-zero cents total and max,
    * all integer-micros so the fold is order-free. One definition
    * serves BOTH API surfaces q82 certifies: `toColumn` on a typed
    * `groupByKey` and `functions.udaf` on an untyped `groupBy`. */
  private[operators] object MoneyAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, (Long, Long, Long), (Long, Long, Long)] {
    def zero: (Long, Long, Long) = (0L, 0L, Long.MinValue)
    def reduce(b: (Long, Long, Long), m: Long): (Long, Long, Long) =
      (b._1 + 1, b._2 + m, math.max(b._3, m))
    def merge(x: (Long, Long, Long), y: (Long, Long, Long)): (Long, Long, Long) =
      (x._1 + y._1, x._2 + y._2, math.max(x._3, y._3))
    def finish(b: (Long, Long, Long)): (Long, Long, Long) =
      (b._1, (b._2 + 5000) / 10000, (b._3 + 5000) / 10000)
    def bufferEncoder = org.apache.spark.sql.Encoders.product[(Long, Long, Long)]
    def outputEncoder = org.apache.spark.sql.Encoders.product[(Long, Long, Long)]
  }

  /** TYPED AGGREGATOR certificate — the custom-aggregate extension path
    * the DataFrame API offers a Scala shop (one `Aggregator` class,
    * two registration surfaces), certified to agree with itself and
    * the oracle: the SAME [[MoneyAgg]] instance runs (a) typed, via
    * `groupByKey(...).agg(agg.toColumn)` over a case-class `Encoder`,
    * and (b) untyped, via `functions.udaf(agg)` inside a plain
    * `groupBy.agg` — the two plans Spark compiles are different
    * (ObjectHashAggregate over a typed buffer vs the UDAF wrapper),
    * and `apis_agree` pins their cell-by-cell equality beside the
    * oracle's own replay of the fold. Integer micros keep the fold
    * order-free, so partial aggregation across any partitioning is
    * bit-stable — the property a custom agg MUST have at 100 TB,
    * where merge order is nondeterministic by construction. */
  def q82TypedAgg(s: SparkSession, d: String): DataFrame = {
    val session = s
    import session.implicits._
    val base = Tables.parallelize(Tables.orders(s, d))
      .select(col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * lit(1000000)).cast("long").as("micros"))
    val typed = base.as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(MoneyAgg.toColumn.name("st"))
      .toDF("priority", "st")
      .select(col("priority"), col("st._1").as("n"),
        col("st._2").as("sum_cents"), col("st._3").as("max_cents"))
    val asUdaf = udaf(MoneyAgg)
    val untyped = base.groupBy("priority").agg(asUdaf(col("micros")).as("st"))
      .select(col("priority"), col("st._1").as("n2"),
        col("st._2").as("sum2"), col("st._3").as("max2"))
    typed.join(untyped, "priority")
      .select(col("priority"), col("n"), col("sum_cents"), col("max_cents"),
        (col("n") === col("n2") && col("sum_cents") === col("sum2") &&
          col("max_cents") === col("max2")).as("apis_agree"))
      .orderBy("priority")
  }

  val q82Sql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n,
      |  CAST((sum(m) + 5000) // 10000 AS BIGINT) AS sum_cents,
      |  CAST((max(m) + 5000) // 10000 AS BIGINT) AS max_cents,
      |  TRUE AS apis_agree
      |FROM (SELECT o_orderpriority,
      |        CAST(round(o_totalprice * 1000000) AS BIGINT) AS m FROM orders)
      |GROUP BY priority ORDER BY priority""".stripMargin

  /** AUTOMATIC EXCHANGE REUSE certificate — the engine-side dedup of
    * identical shuffles that q70's explicit `persist` doesn't need:
    * when two plan branches aggregate the SAME subtree (here an
    * extremes report — the busiest day by volume and by revenue, two
    * differently-ordered top-1s over one daily aggregate), ReuseExchange
    * (and AQE's stage reuse) canonicalizes the duplicate and the
    * second branch READS the first branch's shuffle output instead of
    * recomputing the scan + partial agg — at 100 TB the difference
    * between one pass and two over the fact table, with no user action.
    * The executed plan is probed for a [[org.apache.spark.sql.execution
    * .exchange.ReusedExchangeExec]] (vacuity throws), pinned as an
    * oracle TRUE. */
  def q83ExchangeReuse(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.parallelize(Tables.events(s, d))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * lit(100)).cast("long")).as("value_c"))
    val topN = daily.orderBy(col("n_events").desc, col("day")).limit(1)
      .withColumn("metric", lit("max_events"))
    val topV = daily.orderBy(col("value_c").desc, col("day")).limit(1)
      .withColumn("metric", lit("max_value"))
    val res = topN.unionByName(topV).select("metric", "day", "n_events", "value_c")
    val materialized = res.localCheckpoint() // keep: certificate
    if (PlanProbe.reusedExchanges(res) < 1)
      throw new IllegalStateException(
        "no ReusedExchange in executed plan — the duplicate shuffle was recomputed")
    materialized.withColumn("exchange_reused", lit(true)).orderBy("metric")
  }

  val q83Sql: String =
    """WITH daily AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
      |  FROM events GROUP BY day
      |), a AS (
      |  SELECT 'max_events' AS metric, day, n_events, value_c FROM daily
      |  ORDER BY n_events DESC, day LIMIT 1
      |), b AS (
      |  SELECT 'max_value' AS metric, day, n_events, value_c FROM daily
      |  ORDER BY value_c DESC, day LIMIT 1
      |)
      |SELECT metric, day, n_events, value_c, TRUE AS exchange_reused
      |FROM (SELECT * FROM a UNION ALL SELECT * FROM b) ORDER BY metric""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_exchange_reuse" -> (q83ExchangeReuse _),
    "q82_typed_agg" -> (q82TypedAgg _),
    "q80_aqe_coalesce" -> (q80AqeCoalesce _),
    "q81_window_group_limit" -> (q81WindowGroupLimit _),
    "q79_union_by_name" -> (q79UnionByName _),
    "q77_keyset_pagination" -> (q77KeysetPagination _),
    "q78_bucket_pruning" -> (q78BucketPruning _),
    "q76_calendar_clamp" -> (q76CalendarClamp _),
    "q75_not_in_null" -> (q75NotInNull _),
    "q74_map_functions" -> (q74MapFunctions _),
    "q73_nested_pruning" -> (q73NestedPruning _),
    "q72_grouping_id" -> (q72GroupingId _),
    "q71_cbo_stats" -> (q71CboStats _),
    "q69_null_safe_join" -> (q69NullSafeJoin _),
    "q70_cache_reuse" -> (q70CacheReuse _),
    "q68_try_arithmetic" -> (q68TryArithmetic _),
    "q67_decimal" -> (q67Decimal _),
    "q64_interval_overlap" -> (q64IntervalOverlap _),
    "q65_bitmap_distinct" -> (q65BitmapDistinct _),
    "q66_variant" -> (q66Variant _))

  val oracles: Map[String, String] = Map(
    "q83_exchange_reuse" -> q83Sql,
    "q82_typed_agg" -> q82Sql,
    "q80_aqe_coalesce" -> q80Sql,
    "q81_window_group_limit" -> q81Sql,
    "q79_union_by_name" -> q79Sql,
    "q77_keyset_pagination" -> q77Sql,
    "q78_bucket_pruning" -> q78Sql,
    "q76_calendar_clamp" -> q76Sql,
    "q75_not_in_null" -> q75Sql,
    "q74_map_functions" -> q74Sql,
    "q73_nested_pruning" -> q73Sql,
    "q72_grouping_id" -> q72Sql,
    "q71_cbo_stats" -> q71Sql,
    "q69_null_safe_join" -> q69Sql,
    "q70_cache_reuse" -> q70Sql,
    "q68_try_arithmetic" -> q68Sql,
    "q67_decimal" -> q67Sql,
    "q64_interval_overlap" -> q64Sql,
    "q65_bitmap_distinct" -> q65Sql,
    "q66_variant" -> q66Sql)
}
