package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Seventh tranche of relational coverage (SURVEY.md §2B continued):
  * the GAPS-AND-ISLANDS family — run-length analytics over an ordered
  * key space, the one classic windowing shape the first 83 queries
  * don't exercise (q34 densifies gaps, q37 imputes across them; neither
  * DETECTS maximal runs).
  */
object RelationalExt6 {

  /** GAPS-AND-ISLANDS: per-user maximal runs of CONSECUTIVE active
    * days (a streak = an island in the day-number line). The textbook
    * reduction — and the only one that stays a single pass — is the
    * row_number difference trick: within a user, `day_number −
    * row_number` is CONSTANT exactly on a consecutive run, so the
    * maximal runs fall out of one window + one aggregate with no
    * self-join and no per-day iteration (the naive LAG-based
    * run-breaker needs a second running-sum window; this needs one).
    *
    * Scale shape: raw events collapse to distinct (user, day) at the
    * FIRST aggregation (partial-agg map-side, so event volume never
    * crosses the shuffle), then one per-user window over ≤ span-days
    * rows and two tiny aggregates. The window partitions by user_id —
    * millions of small partitions, never a global sort. Output: per
    * user the island count, longest/total streak days, and first
    * active day — the engagement-streak table every retention system
    * derives (reference scope: its wordcount groups tokens; this
    * groups an ordered key space — same shuffle, one window more). */
  def q84Islands(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val grouped = days
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) -
          row_number().over(w))
    val islands = grouped.groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        max("len").as("longest_streak"),
        sum("len").as("active_days"),
        min("start_day").as("first_day"))
      .orderBy("user_id")
  }

  /** SQL twin: identical day-number − row_number island keying. */
  val q84Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), g AS (
      |  SELECT user_id, day,
      |    date_diff('day', DATE '1970-01-01', day)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days
      |), isl AS (
      |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
      |    min(day) AS start_day
      |  FROM g GROUP BY 1, 2
      |)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(sum(len) AS BIGINT) AS active_days,
      |  min(start_day) AS first_day
      |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin

  /** PER-GROUP EXACT MODE (argmax) WITHOUT A WINDOW — each user's most
    * frequent event type, with count, total and share. The textbook
    * plan ranks every (user, type) row with `row_number()` and keeps
    * rank 1 — a full per-user sort whose only purpose is discarding
    * everything but the top row. The scale-correct plan is the
    * struct-ordering trick: `min(struct(-cnt, type))` is an ordinary
    * partial-aggregable aggregate (field-wise lexicographic struct
    * comparison ⇒ highest count, then SMALLEST type name — a
    * deterministic, engine-portable tie-break), so the argmax
    * collapses map-side and only one candidate row per (user,
    * partition) ever crosses the shuffle — no sort, no window state.
    * Two aggregates total: raw events collapse at the first
    * (user, type) partial agg; everything after is bounded by distinct
    * keys. The oracle replays via the window form — both engines must
    * agree row-for-row, which certifies the tie-break really is total.
    * Share = one IEEE division over exact Longs, rounded (the
    * engine-wide ratio discipline). */
  def q85ArgmaxMode(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy("user_id")
      .agg(min(struct((-col("cnt")).as("nc"), col("event_type").as("et"))).as("m"),
        sum(col("cnt")).as("total_events"))
      .select(col("user_id"),
        col("m.et").as("modal_type"),
        (-col("m.nc")).as("modal_cnt"),
        col("total_events"),
        ExactRound.r((-col("m.nc")).cast("double") / col("total_events"), 6)
          .as("modal_share"))
      .orderBy("user_id")
  }

  /** SQL twin — the window form the Spark side deliberately avoids;
    * identical tie-break (count DESC, type ASC). */
  val q85Sql: String =
    s"""WITH c AS (
       |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |), r AS (
       |  SELECT user_id, event_type, cnt,
       |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn,
       |    CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total_events
       |  FROM c
       |)
       |SELECT user_id, event_type AS modal_type, cnt AS modal_cnt, total_events,
       |  ${ExactRound.rSql("CAST(cnt AS DOUBLE) / total_events", 6)} AS modal_share
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** JOIN-STRATEGY HINT certificate — the knob a 100 TB job turns when
    * the planner's size estimates are wrong (a "small" side that
    * explodes after filters, or a huge side the stats undersell): the
    * SAME orders⋈customer aggregate runs under all three strategy
    * hints, the EXECUTED plan (AQE-final — probed after
    * materialization) must carry the demanded operator, and all three
    * answers must agree. The sharp edge this pins: customer is far
    * below the broadcast threshold here, so an unhinted plan — and a
    * hint-IGNORING planner — would broadcast all three; `merge` /
    * `shuffle_hash` passing the probe certifies user hints outrank
    * both the static threshold and AQE's runtime re-plan, which is the
    * entire point of the hint surface. Throws (never returns wrong-plan
    * rows) on a missing operator; results flow through the hash gate. */
  def q86JoinHints(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanProbe
    val orders = Tables.parallelize(Tables.orders(s, d))
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    def variant(name: String, hint: String, expect: String): DataFrame = {
      val joined = orders.join(cust.hint(hint), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .withColumn("variant", lit(name))
      val m = joined.localCheckpoint() // keep: certificate
      val execs = PlanProbe.nodes(joined).map(_.getClass.getSimpleName)
      if (!execs.exists(_.startsWith(expect)))
        throw new IllegalStateException(
          s"join hint '$hint' did not reach the executed plan as $expect (saw: " +
            execs.distinct.mkString(", ") + ")")
      m
    }
    // the three hint variants are independent certificate jobs —
    // overlap them (Shared.awaitAll, guide §2.6)
    Shared.awaitAll[DataFrame](Seq(
        () => variant("broadcast", "broadcast", "BroadcastHashJoin"),
        () => variant("merge", "merge", "SortMergeJoin"),
        () => variant("shuffle_hash", "shuffle_hash", "ShuffledHashJoin")))
      .reduce(_ unionByName _)
      .select("variant", "c_nationkey", "n_orders", "n_customers")
      .orderBy("variant", "c_nationkey")
  }

  /** SQL twin: one join, replicated under the three variant labels —
    * hint paths may not change a single row. */
  val q86Sql: String =
    """WITH agg AS (
      |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_nationkey
      |)
      |SELECT v.variant, a.c_nationkey, a.n_orders, a.n_customers
      |FROM (VALUES ('broadcast'), ('merge'), ('shuffle_hash')) v(variant), agg a
      |ORDER BY v.variant, a.c_nationkey""".stripMargin

  /** ANSI ORDERED-SET AGGREGATES — `percentile_cont` / `percentile_disc`
    * (WITHIN GROUP), the one SQL:2003 surface the suite's quantile work
    * (q21 sketches, q40 medians) hadn't pinned. Cross-engine float
    * parity is usually hopeless for interpolated percentiles (engines
    * disagree on `a + f·(b−a)` vs `(1−f)·a + f·b` at the ULP) — it is
    * EXACT here by construction: inputs are integer cents and the
    * fractions are dyadic (.25/.5/.75), so every interpolation formula
    * lands on the same exactly-representable dyadic rational, and the
    * hex gate can pin doubles. percentile_disc certifies the subtler
    * ANSI definition (least value with cume_dist ≥ f — NOT the nearest
    * rank, and legitimately ≤ its _cont twin). Scale honesty: exact
    * percentiles sort each group's multiset — not partial-aggregable;
    * at 100 TB you reach for q21's mergeable sketch, and THIS op is the
    * ANSI-semantics reference the sketch is judged against. */
  def q87Percentiles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.parallelize(Tables.lineitem(s, d))
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("value_c"))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY value_c)").as("p25_cont"),
        expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY value_c)").as("p50_cont"),
        expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY value_c)").as("p75_cont"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value_c)")
          .cast("long").as("p25_disc"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value_c)")
          .cast("long").as("p75_disc"))
      .orderBy("l_returnflag")
  }

  /** SQL twin: DuckDB's quantile_cont/quantile_disc implement the same
    * ANSI definitions ((n−1)·f interpolation; least-cume_dist disc). */
  val q87Sql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.25) AS p25_cont,
      |  quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.50) AS p50_cont,
      |  quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.75) AS p75_cont,
      |  CAST(quantile_disc(CAST(round(l_extendedprice*100) AS BIGINT), 0.25) AS BIGINT) AS p25_disc,
      |  CAST(quantile_disc(CAST(round(l_extendedprice*100) AS BIGINT), 0.75) AS BIGINT) AS p75_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** TIME-WEIGHTED AVERAGE (TWAP) over an irregular event series — the
    * IoT/finance aggregate a plain mean gets WRONG on uneven sampling
    * (a sensor that reports hourly when stable and per-second when
    * failing must not let the failure burst dominate): each reading is
    * weighted by how long it remained current (one `lead` window per
    * user — no self-join, no densification), and the integral
    * accumulates as exact INTEGER cents·milliseconds so partial sums
    * are order-free (value cents ≤ 10⁴ × month-of-millis ≤ 2.7·10⁹
    * × 10³ events ≈ 2.7·10¹⁶, far inside Long under ANSI overflow
    * checks); ONE IEEE division per user at the end. Scale shape: the
    * window partitions by user — millions of small partitions, no
    * global sort; the aggregate collapses map-side. Single-event users
    * (no interval) and zero-span users (degenerate integral) are
    * excluded symmetrically on both engines. */
  def q88Twap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.normalizeTs(Tables.parallelize(Tables.events(s, d)))
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        round(col("value") * 100).cast("long").as("vc"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    ev.withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("vc"), expr("(nxt - us) div 1000").as("dur"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum("dur").as("span_ms"),
        sum(col("vc") * col("dur")).as("wsum"))
      .filter(col("span_ms") > 0)
      .select(col("user_id"), col("n_segments"), col("span_ms"),
        ExactRound.r(col("wsum").cast("double") / col("span_ms"), 6).as("twap_cents"))
      .orderBy("user_id")
  }

  /** SQL twin: identical lead-window segmentation and integer folds. */
  val q88Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS us,
       |    CAST(round(value*100) AS BIGINT) AS vc, event_id FROM events
       |), seg AS (
       |  SELECT user_id, vc,
       |    (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) // 1000 AS dur
       |  FROM ev
       |), agg AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
       |    CAST(sum(dur) AS BIGINT) AS span_ms, CAST(sum(vc*dur) AS BIGINT) AS wsum
       |  FROM seg WHERE dur IS NOT NULL GROUP BY user_id
       |)
       |SELECT user_id, n_segments, span_ms,
       |  ${ExactRound.rSql("CAST(wsum AS DOUBLE) / span_ms", 6)} AS twap_cents
       |FROM agg WHERE span_ms > 0 ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_twap" -> (q88Twap _),
    "q84_islands" -> (q84Islands _),
    "q85_argmax_mode" -> (q85ArgmaxMode _),
    "q86_join_hints" -> (q86JoinHints _),
    "q87_percentiles" -> (q87Percentiles _))

  val oracles: Map[String, String] = Map(
    "q84_islands" -> q84Sql,
    "q85_argmax_mode" -> q85Sql,
    "q86_join_hints" -> q86Sql,
    "q87_percentiles" -> q87Sql,
    "q88_twap" -> q88Sql)
}
