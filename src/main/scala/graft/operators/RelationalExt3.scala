package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Fourth tranche of relational coverage (SURVEY.md §2B continued):
  * product-analytics shapes — ordered funnel conversion and cohort
  * retention — the two queries every event warehouse runs daily.
  */
object RelationalExt3 {

  /** Ordered funnel conversion (view → click → purchase): a user reaches
    * stage k only with an event AT OR AFTER their stage-(k−1) entry
    * time — the sequencing constraint a naive per-type distinct count
    * ignores. Three per-user min-aggregates chained by user_id joins
    * (each stage's input is already keyed on user_id, so at scale this
    * is one shuffle then narrow joins); time-to-convert sums in exact
    * integer micros. Output: one row per stage with reach count,
    * conversion vs stage 1 (single IEEE division), and total
    * micros-from-first-view across converted users. */
  def q41Funnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("vts"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") >= col("vts"))
      .groupBy("user_id").agg(min("ts").as("cts"), min("vts").as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c.select("user_id", "cts", "vts"), "user_id")
      .filter(col("ts") >= col("cts"))
      .groupBy("user_id").agg(min("ts").as("pts"), min("vts").as("vts"))
    val agg = v.agg(count(lit(1)).as("n1")).crossJoin(
        c.agg(count(lit(1)).as("n2"),
          coalesce(sum(unix_micros(col("cts")) - unix_micros(col("vts"))), lit(0L)).as("s2")))
      .crossJoin(
        p.agg(count(lit(1)).as("n3"),
          coalesce(sum(unix_micros(col("pts")) - unix_micros(col("vts"))), lit(0L)).as("s3")))
    agg.select(expr(
        "stack(3, 1, 'view', n1, CAST(0 AS BIGINT), 2, 'click', n2, s2, 3, 'purchase', n3, s3)")
        .as(Seq("stage_idx", "stage", "n_users", "micros_from_view")), col("n1"))
      .select(col("stage_idx"), col("stage"), col("n_users"), col("micros_from_view"),
        (col("n_users").cast("double") / col("n1")).as("conv_pct"))
      .orderBy("stage_idx")
  }

  val q41Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS vts FROM events WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(e.ts) AS cts, min(v.vts) AS vts
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts >= v.vts GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS pts, min(c.vts) AS vts
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.cts GROUP BY 1
      |), agg AS (
      |  SELECT (SELECT count(*) FROM v) AS n1, (SELECT count(*) FROM c) AS n2,
      |    (SELECT count(*) FROM p) AS n3,
      |    (SELECT coalesce(CAST(sum(epoch_us(cts) - epoch_us(vts)) AS BIGINT), 0) FROM c) AS s2,
      |    (SELECT coalesce(CAST(sum(epoch_us(pts) - epoch_us(vts)) AS BIGINT), 0) FROM p) AS s3
      |)
      |SELECT stage_idx, stage, n_users, micros_from_view,
      |  CAST(n_users AS DOUBLE) / n1 AS conv_pct
      |FROM (
      |  SELECT 1 AS stage_idx, 'view' AS stage, n1 AS n_users, CAST(0 AS BIGINT) AS micros_from_view, n1 FROM agg
      |  UNION ALL SELECT 2, 'click', n2, s2, n1 FROM agg
      |  UNION ALL SELECT 3, 'purchase', n3, s3, n1 FROM agg
      |)
      |ORDER BY stage_idx""".stripMargin

  /** Cohort retention matrix: customers grouped by first-order month,
    * tracked by distinct-active counts at each month offset — the
    * classic retention triangle. The cohort assignment is one partial
    * aggregate per customer; month offsets are exact integer month
    * arithmetic ((y·12+m) difference — `months_between` returns a
    * fractional double that is NOT engine-portable); retention is one
    * IEEE division of two exact longs. Scale: both aggregates shuffle
    * on o_custkey / (cohort, offset) — row counts bounded by customers
    * and months², never by orders. */
  def q42Retention(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"))
    val f = o.groupBy("o_custkey").agg(min("ym").as("cym"))
    val cs = f.groupBy("cym").agg(count(lit(1)).as("cohort_size"))
    o.join(f, "o_custkey")
      .groupBy(col("cym"), (col("ym") - col("cym")).as("month_offset"))
      .agg(countDistinct("o_custkey").as("n_active"))
      .join(cs, "cym")
      .select(
        format_string("%04d-%02d",
          expr("(cym - 1) div 12"), (col("cym") - 1) % 12 + 1).as("cohort"),
        col("month_offset").cast("long").as("month_offset"),
        col("cohort_size"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort", "month_offset")
  }

  val q42Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS ym FROM orders
      |), f AS (
      |  SELECT o_custkey, min(ym) AS cym FROM o GROUP BY 1
      |), cs AS (
      |  SELECT cym, count(*) AS cohort_size FROM f GROUP BY 1
      |), act AS (
      |  SELECT f.cym, o.ym - f.cym AS month_offset, count(DISTINCT o.o_custkey) AS n_active
      |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2
      |)
      |SELECT printf('%04d-%02d', (a.cym - 1) // 12, (a.cym - 1) % 12 + 1) AS cohort,
      |  CAST(a.month_offset AS BIGINT) AS month_offset,
      |  cs.cohort_size, a.n_active,
      |  CAST(a.n_active AS DOUBLE) / cs.cohort_size AS retention
      |FROM act a JOIN cs USING (cym)
      |ORDER BY cohort, month_offset""".stripMargin

  /** Trailing 7-day rolling distinct actives (DAU/WAU) per day — the
    * engagement curve whose "distinct over a sliding window" shape
    * defeats naive window functions (you cannot sum daily distincts).
    * The scale-safe formulation: dedupe to (day, user) pairs first (one
    * partial-agg shuffle — the raw event volume never goes further),
    * then each pair votes into the ≤7 calendar days it covers via
    * `explode(sequence(day, day+6))` — a bounded ×7 expansion of the
    * already-tiny pair set — and one countDistinct per day closes it.
    * At 100 TB the pair set is users × days, orders of magnitude below
    * the events, and no day ever re-scans history. */
  def q43TrailingDau(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val bounds = pairs.agg(max("day").as("dmax"))
    val votes = pairs
      .select(explode(expr("sequence(day, date_add(day, 6), interval 1 day)")).as("day"),
        col("user_id"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("dmax"))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
    votes.join(dau, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy("day")
  }

  val q43Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      |), bounds AS (
      |  SELECT max(day) AS dmax FROM pairs
      |), votes AS (
      |  SELECT CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |           CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS vday,
      |    user_id
      |  FROM pairs
      |), wau AS (
      |  SELECT vday AS day, count(DISTINCT user_id) AS wau
      |  FROM votes, bounds WHERE vday <= dmax GROUP BY 1
      |), dau AS (
      |  SELECT day, count(*) AS dau FROM pairs GROUP BY 1
      |)
      |SELECT strftime(w.day, '%Y-%m-%d') AS day,
      |  coalesce(d.dau, 0) AS dau, w.wau
      |FROM wau w LEFT JOIN dau d USING (day)
      |ORDER BY day""".stripMargin

  /** Last-touch attribution: each purchase is credited to the SAME
    * user's latest click at-or-before it, within a 7-day lookback — the
    * marketing-attribution query (q41's funnel aggregates conversion;
    * this emits the per-conversion credit assignment an ads pipeline
    * joins spend against). The as-of machinery is q26's: a per-(user,
    * ts) click map (max event_id breaks same-instant ties), one union +
    * running-window max to find each purchase's last click instant
    * (kind sorts clicks first, so at-or-before is inclusive), one
    * equi-join back for the click id — one shuffle-sort per user, no
    * range-join explosion. Purchases with no click in the window are
    * excluded (unattributed). time_to_convert_us is exact long micros. */
  def q44Attribution(s: SparkSession, d: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val lookbackUs = 7L * 86400 * 1000 * 1000
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val cm = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts_us").agg(max("event_id").as("click_id"))
    val u = cm.select(col("user_id"), col("ts_us"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"))
      .unionByName(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), lit(1).as("kind"), col("event_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "kind")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    u.withColumn("last_cts", max(when(col("kind") === 0, col("ts_us"))).over(w))
      .filter(col("kind") === 1 && col("last_cts").isNotNull
        && col("ts_us") - col("last_cts") <= lookbackUs)
      .join(cm.withColumnRenamed("ts_us", "last_cts"), Seq("user_id", "last_cts"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        date_format(timestamp_micros(col("ts_us")), fmt).as("purchase_ts"),
        col("click_id"),
        date_format(timestamp_micros(col("last_cts")), fmt).as("click_ts"),
        (col("ts_us") - col("last_cts")).as("time_to_convert_us"))
      .orderBy("purchase_id")
  }

  val q44Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events
      |), cm AS (
      |  SELECT user_id, ts_us, max(event_id) AS click_id
      |  FROM ev WHERE event_type = 'click' GROUP BY 1, 2
      |), u AS (
      |  SELECT user_id, ts_us, 0 AS kind, CAST(NULL AS BIGINT) AS event_id FROM cm
      |  UNION ALL
      |  SELECT user_id, ts_us, 1, event_id FROM ev WHERE event_type = 'purchase'
      |), w AS (
      |  SELECT *, max(CASE WHEN kind = 0 THEN ts_us END) OVER (
      |    PARTITION BY user_id ORDER BY ts_us, kind
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_cts
      |  FROM u
      |)
      |SELECT w.event_id AS purchase_id, w.user_id,
      |  strftime(make_timestamp(w.ts_us), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  cm.click_id,
      |  strftime(make_timestamp(w.last_cts), '%Y-%m-%d %H:%M:%S') AS click_ts,
      |  w.ts_us - w.last_cts AS time_to_convert_us
      |FROM w JOIN cm ON w.user_id = cm.user_id AND w.last_cts = cm.ts_us
      |WHERE w.kind = 1 AND w.ts_us - w.last_cts <= 604800000000
      |ORDER BY purchase_id""".stripMargin

  /** Revenue-concentration audit (Lorenz/Pareto deciles): customers
    * bucketed into 10 revenue deciles, per decile the customer count,
    * exact revenue, revenue share, and cumulative share — "do 10 % of
    * customers carry 50 % of revenue?" answered exactly. Per-customer
    * revenue sums in integer micros (order-free); decile edges come from
    * ONE 9-value percentile aggregate broadcast back for map-side
    * assignment (the p_curriculum discipline — NO global rank/ntile
    * window, which would funnel every customer through one partition;
    * threshold assignment keys the same answer at any scale). The
    * cumulative window runs over exactly 10 rows. */
  def q45Pareto(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * lit(1000000L)).cast("long")).as("rev_us"))
    val qs = (1 to 9).map(k => s"0.${k}D").mkString(", ")
    val edges = rev.agg(expr(s"percentile(rev_us, array($qs))").as("es"))
      .select((1 to 9).map(k => element_at(col("es"), k).as(s"e$k")): _*)
    val decile = (1 to 9).map(k => (col("rev_us") > col(s"e$k")).cast("long"))
      .foldLeft(lit(1L))(_ + _)
    val byDec = rev.crossJoin(broadcast(edges))
      .select(col("rev_us"), decile.as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("rev_us").as("dec_us"))
    // unpartitioned running-sum window, bounded: 10 decile rows
    val wd = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = byDec.agg(sum("dec_us").as("tot_us"))
    byDec.withColumn("cum_us", sum("dec_us").over(wd))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        ExactRound.r(col("dec_us").cast("double") / lit(1000000.0), 2).as("revenue_total"),
        ExactRound.r(col("dec_us").cast("double") / col("tot_us"), 6).as("share"),
        ExactRound.r(col("cum_us").cast("double") / col("tot_us"), 6).as("cum_share"))
      .orderBy("decile")
  }

  val q45Sql: String = {
    val es = (1 to 9).map(k => s"quantile_cont(rev_us, 0.$k) AS e$k").mkString(", ")
    val dec = (1 to 9).map(k => s"CAST(rev_us > e$k AS INT)").mkString(" + ")
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us
       |  FROM orders GROUP BY 1
       |), e AS (
       |  SELECT $es FROM rev
       |), dec AS (
       |  SELECT rev_us, CAST(1 + $dec AS BIGINT) AS decile FROM rev, e
       |), byd AS (
       |  SELECT decile, count(*) AS n_customers, CAST(sum(rev_us) AS BIGINT) AS dec_us
       |  FROM dec GROUP BY 1
       |), c AS (
       |  SELECT decile, n_customers, dec_us,
       |    CAST(sum(dec_us) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_us,
       |    CAST(sum(dec_us) OVER () AS BIGINT) AS tot_us
       |  FROM byd
       |)
       |SELECT decile, n_customers,
       |  ${ExactRound.rSql("CAST(dec_us AS DOUBLE) / 1000000.0", 2)} AS revenue_total,
       |  ${ExactRound.rSql("CAST(dec_us AS DOUBLE) / tot_us", 6)} AS share,
       |  ${ExactRound.rSql("CAST(cum_us AS DOUBLE) / tot_us", 6)} AS cum_share
       |FROM c ORDER BY decile""".stripMargin
  }

  /** Year-over-year growth: monthly order revenue joined against the
    * same calendar month one year earlier. Months key as exact integers
    * (`year·12 + month − 1`, the q42_retention discipline —
    * `add_months`/`months_between` round-trip through engine-specific
    * date arithmetic); revenue sums as integer micros so the deltas and
    * the growth ratio are bit-portable. The monthly rollup is one
    * partial/final aggregate (raw orders never cross the shuffle); the
    * YoY self-join runs over the ~80-row month table, so at 100 TB the
    * only data-sized work is the scan + partial agg. Months without a
    * prior-year counterpart (the first 12) are inner-joined away —
    * growth against nothing is undefined, not zero. */
  def q46Yoy(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy((year(col("o_orderdate")) * lit(12) + month(col("o_orderdate")) - lit(1))
        .cast("long").as("ym"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * lit(1000000L)).cast("long")).as("rev_us"))
    val cur = monthly.select(col("ym"), col("n_orders"), col("rev_us"))
    val prev = monthly.select((col("ym") + lit(12L)).as("ym"),
      col("rev_us").as("prev_rev_us"))
    cur.join(prev, "ym")
      .select(
        concat(format_string("%04d", (col("ym") / lit(12)).cast("int")), lit("-"),
          format_string("%02d", (col("ym") % lit(12) + lit(1)).cast("int"))).as("month"),
        col("n_orders"),
        ExactRound.r(col("rev_us").cast("double") / lit(1000000.0), 2).as("revenue"),
        ExactRound.r(col("prev_rev_us").cast("double") / lit(1000000.0), 2).as("prev_revenue"),
        ExactRound.r((col("rev_us") - col("prev_rev_us")).cast("double") / lit(1000000.0), 2)
          .as("yoy_delta"),
        ExactRound.r(col("rev_us").cast("double") / col("prev_rev_us"), 6).as("yoy_ratio"))
      .orderBy("month")
  }

  /** SQL twin: identical integer month keys, micros sums, and rounded
    * divisions. */
  val q46Sql: String =
    s"""WITH monthly AS (
       |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym,
       |    count(*) AS n_orders,
       |    CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us
       |  FROM orders GROUP BY 1
       |)
       |SELECT printf('%04d-%02d', CAST(c.ym // 12 AS INT), CAST(c.ym % 12 + 1 AS INT)) AS month,
       |  c.n_orders,
       |  ${ExactRound.rSql("CAST(c.rev_us AS DOUBLE) / 1000000.0", 2)} AS revenue,
       |  ${ExactRound.rSql("CAST(p.rev_us AS DOUBLE) / 1000000.0", 2)} AS prev_revenue,
       |  ${ExactRound.rSql("CAST(c.rev_us - p.rev_us AS DOUBLE) / 1000000.0", 2)} AS yoy_delta,
       |  ${ExactRound.rSql("CAST(c.rev_us AS DOUBLE) / p.rev_us", 6)} AS yoy_ratio
       |FROM monthly c JOIN monthly p ON c.ym = p.ym + 12
       |ORDER BY month""".stripMargin

  /** Market-basket co-occurrence: top-20 unordered part-brand pairs by
    * the number of orders containing BOTH brands, with support vs all
    * orders. The pair generation is a self-join of the distinct
    * (order, brand) table ON THE ORDER KEY — fan-out per order is
    * bounded by the order's distinct-brand count (≤ line count, ~7 in
    * TPC-H shape), never corpus-sized, and the part dimension is a
    * broadcast join. Top-20 with a total-order tie-break compiles to
    * TakeOrderedAndProject (per-partition heaps, no global sort). The
    * support denominator is one count aggregate broadcast as a scalar. */
  def q47Basket(s: SparkSession, d: String): DataFrame = {
    val ob = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
      .distinct()
    val totals = ob.select("l_orderkey").distinct().agg(count(lit(1)).as("n_total_orders"))
    ob.as("a").join(ob.as("b"), "l_orderkey")
      .filter(col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(totals))
      .select(col("brand_a"), col("brand_b"), col("n_orders"),
        ExactRound.r(col("n_orders").cast("double") / col("n_total_orders"), 6).as("support"))
      .orderBy(col("n_orders").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  /** SQL twin: identical distinct, pair join, and tie-break. */
  val q47Sql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey, p_brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |), tot AS (
       |  SELECT count(DISTINCT l_orderkey) AS n_total_orders FROM ob
       |)
       |SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_orders,
       |  ${ExactRound.rSql("CAST(count(*) AS DOUBLE) / any_value(tot.n_total_orders)", 6)} AS support
       |FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand, tot
       |GROUP BY 1, 2
       |ORDER BY n_orders DESC, brand_a, brand_b LIMIT 20""".stripMargin

  /** Revenue-quintile transition matrix (customer mobility): each
    * customer's order revenue is split at 1998 into a before/after
    * period, quintiles are assigned INDEPENDENTLY per period via
    * broadcast percentile edges (the q45 discipline — no global ntile
    * window), and the matrix counts customers per (before, after) cell.
    * Quintile 0 means absent from that period, so churned and newly
    * acquired customers appear as the 0-row and 0-column instead of
    * silently vanishing. Scale shape: one partial/final rollup to
    * (customer, period) revenue, two 4-double edge tables broadcast, a
    * full-outer self-join keyed on the customer, and a ≤36-cell
    * aggregate — past the scan, nothing grows with order volume. */
  def q48DecileMoves(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"),
        (year(col("o_orderdate")) >= lit(1998)).cast("int").as("period"))
      .agg(sum(round(col("o_totalprice") * lit(1000000L)).cast("long")).as("rev_us"))
    def quint(p: Int, out: String): DataFrame = {
      val pr = rev.filter(col("period") === p)
      val qs = (1 to 4).map(k => s"0.${2 * k}D").mkString(", ")
      val edges = pr.agg(expr(s"percentile(rev_us, array($qs))").as("es"))
        .select((1 to 4).map(k => element_at(col("es"), k).as(s"e$k")): _*)
      val q = (1 to 4).map(k => (col("rev_us") > col(s"e$k")).cast("long"))
        .foldLeft(lit(1L))(_ + _)
      pr.crossJoin(broadcast(edges)).select(col("o_custkey"), q.as(out))
    }
    val joined = quint(0, "qb").join(quint(1, "qa"), Seq("o_custkey"), "full_outer")
      .select(coalesce(col("qb"), lit(0L)).as("q_before"),
        coalesce(col("qa"), lit(0L)).as("q_after"))
    val tot = joined.agg(count(lit(1)).as("n_total"))
    joined.groupBy("q_before", "q_after").agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(tot))
      .select(col("q_before"), col("q_after"), col("n_customers"),
        ExactRound.r(col("n_customers").cast("double") / col("n_total"), 6).as("share"))
      .orderBy("q_before", "q_after")
  }

  /** SQL twin: identical per-period quantile_cont edges, absent-as-0
    * coalesce, and share arithmetic. */
  val q48Sql: String = {
    val es = (1 to 4).map(k => s"quantile_cont(rev_us, 0.${2 * k}) AS e$k")
      .mkString(", ")
    val q = (1 to 4).map(k => s"CAST(rev_us > e$k AS INT)").mkString(" + ")
    s"""WITH rev AS (
       |  SELECT o_custkey, CAST(year(o_orderdate) >= 1998 AS INT) AS period,
       |    CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us
       |  FROM orders GROUP BY 1, 2
       |), e0 AS (SELECT $es FROM rev WHERE period = 0
       |), e1 AS (SELECT $es FROM rev WHERE period = 1
       |), q0 AS (
       |  SELECT o_custkey, CAST(1 + $q AS BIGINT) AS qb FROM rev, e0 WHERE period = 0
       |), q1 AS (
       |  SELECT o_custkey, CAST(1 + $q AS BIGINT) AS qa FROM rev, e1 WHERE period = 1
       |), j AS (
       |  SELECT coalesce(qb, 0) AS q_before, coalesce(qa, 0) AS q_after
       |  FROM q0 FULL OUTER JOIN q1 USING (o_custkey)
       |), t AS (SELECT count(*) AS n_total FROM j)
       |SELECT q_before, q_after, count(*) AS n_customers,
       |  ${ExactRound.rSql("CAST(count(*) AS DOUBLE) / any_value(t.n_total)", 6)} AS share
       |FROM j, t GROUP BY 1, 2 ORDER BY q_before, q_after""".stripMargin
  }

  /** Return-rate audit by market segment: per c_mktsegment, returned
    * line share and returned-revenue share — the quality-of-business
    * slice behind TPC-H Q10's "who returned things" question. Scale
    * shape: lineitem pre-aggregates TO THE ORDER KEY before any join
    * (map-side-combinable, shrinks the big table ~4× ahead of the
    * shuffle — aggregate-before-join is the rule when the join is
    * fan-in), then one co-keyed join to orders, one custkey join to the
    * customer projection (NOT broadcast: 15 B customers at 100 TB), and
    * a 5-row final rollup. Revenue in exact integer micros throughout. */
  def q49Returns(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_returnflag") === "R").cast("long").as("ret"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(1000000L))
          .cast("long").as("rev_us"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"), sum("ret").as("n_ret"),
        sum(when(col("ret") === 1L, col("rev_us")).otherwise(lit(0L))).as("ret_us"),
        sum("rev_us").as("tot_us"))
    li.join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum("n_lines").as("n_lines"), sum("n_ret").as("n_returned"),
        sum("ret_us").as("ret_us"), sum("tot_us").as("tot_us"))
      .select(col("c_mktsegment"),
        col("n_lines").cast("long").as("n_lines"),
        col("n_returned").cast("long").as("n_returned"),
        ExactRound.r(col("n_returned").cast("double") / col("n_lines"), 6)
          .as("return_rate"),
        ExactRound.r(col("ret_us").cast("double") / lit(1000000.0), 2)
          .as("returned_revenue"),
        ExactRound.r(col("ret_us").cast("double") / col("tot_us"), 6)
          .as("revenue_share"))
      .orderBy("c_mktsegment")
  }

  /** SQL twin: identical micros revenue, pre-agg, and rounded shares. */
  val q49Sql: String =
    s"""WITH li AS (
       |  SELECT l_orderkey, count(*) AS n_lines,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_ret,
       |    CAST(sum(CASE WHEN l_returnflag = 'R'
       |      THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS ret_us,
       |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT))
       |      AS BIGINT) AS tot_us
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT c.c_mktsegment,
       |  CAST(sum(li.n_lines) AS BIGINT) AS n_lines,
       |  CAST(sum(li.n_ret) AS BIGINT) AS n_returned,
       |  ${ExactRound.rSql("CAST(sum(li.n_ret) AS DOUBLE) / sum(li.n_lines)", 6)} AS return_rate,
       |  ${ExactRound.rSql("CAST(sum(li.ret_us) AS DOUBLE) / 1000000.0", 2)} AS returned_revenue,
       |  ${ExactRound.rSql("CAST(sum(li.ret_us) AS DOUBLE) / sum(li.tot_us)", 6)} AS revenue_share
       |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** RFM segmentation over purchase events — the classic CRM cut:
    * per-user Recency (days since last purchase, vs the corpus-max
    * purchase date), Frequency (purchase count) and Monetary (exact
    * integer-micros revenue), each scored 1–5 by quintile, rolled up to
    * segment counts. Quintile assignment follows the q48/q45 pattern —
    * `percentile` edges broadcast as one tiny row, score = 1 + Σ(x > eₖ)
    * — NOT a global ntile window, which would total-sort every user on
    * one partition at 100 TB. Recency score is inverted (recent = 5).
    * All three metrics are exact integers, so quintile edges
    * (interpolated doubles) compare bit-identically across engines;
    * revenue stays in BIGINT micros end-to-end. Scale shape: one
    * shuffle to per-user grain, three single-row edge tables, then a
    * map-side score + one segment rollup. */
  def q50Rfm(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d).filter(col("event_type") === "purchase")
    val refTs = p.agg(max("ts").as("ref_ts"))
    val perUser = p.groupBy("user_id")
      .agg(max("ts").as("last_ts"), count(lit(1)).as("f"),
        sum(round(col("value") * lit(1000000L)).cast("long")).as("m_us"))
      .crossJoin(broadcast(refTs))
      .select(col("user_id"),
        datediff(to_date(col("ref_ts")), to_date(col("last_ts"))).cast("long").as("r_days"),
        col("f"), col("m_us"))
    val qs = (1 to 4).map(k => s"0.${2 * k}D").mkString(", ")
    val edges = perUser.agg(
      expr(s"percentile(r_days, array($qs))").as("re"),
      expr(s"percentile(f, array($qs))").as("fe"),
      expr(s"percentile(m_us, array($qs))").as("me"))
      .select(
        (1 to 4).map(k => element_at(col("re"), k).as(s"re$k")) ++
          (1 to 4).map(k => element_at(col("fe"), k).as(s"fe$k")) ++
          (1 to 4).map(k => element_at(col("me"), k).as(s"me$k")): _*)
    def score(c: String, e: String): org.apache.spark.sql.Column =
      (1 to 4).map(k => (col(c) > col(s"$e$k")).cast("long")).foldLeft(lit(1L))(_ + _)
    perUser.crossJoin(broadcast(edges))
      .select(col("user_id"), col("m_us"),
        (lit(6L) - score("r_days", "re")).as("r_score"),
        score("f", "fe").as("f_score"),
        score("m_us", "me").as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"), sum("m_us").as("rev_us"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** SQL twin: same quantile_cont edges, same >-edge scoring, BIGINT
    * micros revenue. */
  val q50Sql: String = {
    def es(c: String, e: String) =
      (1 to 4).map(k => s"quantile_cont($c, 0.${2 * k}) AS $e$k").mkString(", ")
    def sc(c: String, e: String) =
      "1 + " + (1 to 4).map(k => s"CAST($c > $e$k AS INT)").mkString(" + ")
    s"""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'
       |), ref AS (SELECT max(ts) AS ref_ts FROM p
       |), u AS (
       |  SELECT user_id,
       |    CAST(date_diff('day', CAST(max(p.ts) AS DATE), CAST(any_value(ref.ref_ts) AS DATE)) AS BIGINT) AS r_days,
       |    count(*) AS f,
       |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS m_us
       |  FROM p, ref GROUP BY user_id
       |), e AS (
       |  SELECT ${es("r_days", "re")}, ${es("f", "fe")}, ${es("m_us", "me")} FROM u
       |), scored AS (
       |  SELECT user_id, m_us,
       |    CAST(6 - (${sc("r_days", "re")}) AS BIGINT) AS r_score,
       |    CAST(${sc("f", "fe")} AS BIGINT) AS f_score,
       |    CAST(${sc("m_us", "me")} AS BIGINT) AS m_score
       |  FROM u, e
       |)
       |SELECT r_score, f_score, m_score, count(*) AS n_users,
       |  CAST(sum(m_us) AS BIGINT) AS rev_us
       |FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin
  }

  /** Cohort LTV curves — [[q42Retention]]'s revenue twin: per signup
    * cohort (first-order month) and month offset, the CUMULATIVE
    * revenue and per-member LTV. Revenue accumulates as BIGINT micros
    * through the cumulative window (integer window sums are
    * accumulation-order-free, so the running total is bit-portable
    * where a double running sum is not); the only float is the final
    * per-user division. Scale shape: one shuffle to customer grain for
    * cohort assignment, one (cohort, offset) agg — cohort×offset is
    * bounded by months², not customers — and the cumulative window
    * runs per cohort on that tiny table. */
  def q51CohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"),
      round(col("o_totalprice") * lit(1000000L)).cast("long").as("rev_us"))
    val f = o.groupBy("o_custkey").agg(min("ym").as("cym"))
    val cs = f.groupBy("cym").agg(count(lit(1)).as("cohort_size"))
    val monthly = o.join(f, "o_custkey")
      .groupBy(col("cym"), (col("ym") - col("cym")).as("month_offset"))
      .agg(sum("rev_us").as("rev_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cym").orderBy("month_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    monthly.withColumn("cum_rev_us", sum("rev_us").over(w))
      .join(cs, "cym")
      .select(
        format_string("%04d-%02d",
          expr("(cym - 1) div 12"), (col("cym") - 1) % 12 + 1).as("cohort"),
        col("month_offset").cast("long").as("month_offset"),
        col("cohort_size"), col("cum_rev_us"),
        ExactRound.r(col("cum_rev_us").cast("double") /
          (col("cohort_size") * lit(1000000.0)), 4).as("ltv_per_user"))
      .orderBy("cohort", "month_offset")
  }

  /** SQL twin: same micros window accumulation, same cohort labels. */
  val q51Sql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS ym,
       |    CAST(round(o_totalprice * 1000000) AS BIGINT) AS rev_us
       |  FROM orders
       |), f AS (
       |  SELECT o_custkey, min(ym) AS cym FROM o GROUP BY 1
       |), cs AS (
       |  SELECT cym, count(*) AS cohort_size FROM f GROUP BY 1
       |), monthly AS (
       |  SELECT f.cym, o.ym - f.cym AS month_offset,
       |    CAST(sum(o.rev_us) AS BIGINT) AS rev_us
       |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2
       |), cum AS (
       |  SELECT cym, month_offset,
       |    CAST(sum(rev_us) OVER (PARTITION BY cym ORDER BY month_offset
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_us
       |  FROM monthly
       |)
       |SELECT printf('%04d-%02d', (c.cym - 1) // 12, (c.cym - 1) % 12 + 1) AS cohort,
       |  CAST(c.month_offset AS BIGINT) AS month_offset,
       |  cs.cohort_size, c.cum_rev_us,
       |  ${ExactRound.rSql(
            "CAST(c.cum_rev_us AS DOUBLE) / (cs.cohort_size * 1000000.0)", 4)} AS ltv_per_user
       |FROM cum c JOIN cs USING (cym)
       |ORDER BY cohort, month_offset""".stripMargin

  /** Salted SKEW JOIN — the join twin of q22's salted aggregation, and
    * the other half of the 100 TB skew toolkit: events join a per-type
    * dimension on `event_type`, a catastrophically hot key (a handful
    * of distinct values over the whole fact table — every shuffle
    * partition of a plain repartition join would receive one key's
    * entire volume). The cure when the dimension is too big to
    * broadcast: replicate each dim row ×8 (explode over the salt
    * range), salt the fact deterministically (`event_id % 8` — no RNG,
    * reproducible), and join on (key, salt) so one hot key spreads
    * over 8 partitions. `shuffle_hash` hint keeps the demo honest —
    * without it Catalyst would broadcast this tiny dim and hide the
    * skew entirely (which IS the right plan when the dim fits; AQE's
    * skew-join split is the runtime fallback when it doesn't). The
    * result provably equals the unsalted join — the oracle computes
    * that directly. Money stays integer micros through the join and
    * sum (order-free). */
  def q52SkewJoin(s: SparkSession, d: String): DataFrame = {
    val salts = 8
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val dim = ev.select("event_type").distinct()
      .withColumn("type_weight", length(col("event_type")).cast("long"))
    val dimExp = dim.withColumn("salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    val fact = ev.withColumn("salt", pmod(col("event_id"), lit(salts.toLong)))
      .withColumn("v_micros", round(col("value") * lit(1000000L)).cast("long"))
    fact.join(dimExp.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v_micros") * col("type_weight")).as("weighted_micros"))
      .orderBy("event_type")
  }

  val q52Sql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS type_weight
      |  FROM events
      |)
      |SELECT e.event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(e.value * 1000000) AS BIGINT) * d.type_weight) AS BIGINT)
      |    AS weighted_micros
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** One-pass COLUMN PROFILER — the `ANALYZE TABLE` shape every engine
    * needs before cost-based planning and every pipeline needs as a
    * data-quality gate: per column, row/null/exact-distinct counts.
    * The naive form is one `count(DISTINCT col)` job PER COLUMN (k
    * full scans + k shuffles); this melts the row into (column, value)
    * pairs — a zero-shuffle Expand, the q39 machinery — and profiles
    * ALL columns in ONE shuffle keyed (column, value): partial-agg
    * collapses repeats map-side, so what crosses the wire is each
    * column's distinct values once, not the table k times. Values
    * profile through their string form, which is fine for COUNTING
    * (casts are injective per column); min/max are deliberately
    * omitted — cross-engine string formatting of doubles/timestamps is
    * not bit-portable, and counts are what the planner gate needs. */
  def q53ColumnProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")
    val li = Tables.lineitem(s, d)
    val melted = li.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("string").as("v"))): _*)).as("c"))
      .select(col("c.column_name").as("column_name"), col("c.v").as("v"))
    melted.groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct("v").as("n_distinct"))
      .orderBy("column_name")
  }

  val q53Sql: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")
    cols.map(c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** CORRELATED scalar subqueries through Catalyst DECORRELATION — the
    * classic "orders 50% above this customer's own average" query,
    * deliberately written on the `spark.sql` surface with TWO
    * correlated scalar subqueries (per-customer count and sum), so the
    * optimizer's RewriteCorrelatedScalarSubquery turns them into ONE
    * aggregate + join instead of a per-row re-scan — the difference
    * between O(n) and O(n²/k) at 100 TB, and a capability gate for the
    * SQL surface itself (the 51 prior queries are all DataFrame-built).
    * The predicate is integer-exact: `p > 1.5·avg` is evaluated as
    * `2·p_us·cnt > 3·sum_us` over BIGINT micros, so no double
    * accumulation order can flip a borderline row on either engine. */
  /** Per-invocation view-name counter: two concurrent q54 invocations
    * on the shared session must never clobber each other's view or race
    * a drop against the other's analysis (ADVICE r5). */
  private val q54Invocation = new java.util.concurrent.atomic.AtomicLong(0L)

  def q54CorrelatedSub(s: SparkSession, d: String): DataFrame = {
    // sql() ANALYZES eagerly (the returned frame's plan holds the
    // resolved relation, not a catalog lookup), so the view can be
    // dropped in the finally — the query function stays side-effect-
    // free on the shared session like the other 53
    val view = s"graft_q54_orders_${q54Invocation.incrementAndGet()}"
    Tables.orders(s, d).createOrReplaceTempView(view)
    try s.sql(s"""
      SELECT o_custkey, count(*) AS n_big,
        CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS big_rev_us
      FROM $view o
      WHERE 2 * CAST(round(o.o_totalprice * 1000000) AS BIGINT)
              * (SELECT count(*) FROM $view o2
                 WHERE o2.o_custkey = o.o_custkey)
            > 3 * (SELECT CAST(sum(CAST(round(o2.o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
                   FROM $view o2
                   WHERE o2.o_custkey = o.o_custkey)
      GROUP BY o_custkey
      ORDER BY o_custkey""")
    finally s.catalog.dropTempView(view)
  }

  val q54Sql: String =
    """SELECT o_custkey, count(*) AS n_big,
      |  CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS big_rev_us
      |FROM orders o
      |WHERE 2 * CAST(round(o.o_totalprice * 1000000) AS BIGINT)
      |        * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |      > 3 * (SELECT CAST(sum(CAST(round(o2.o_totalprice * 1000000) AS BIGINT)) AS BIGINT)
      |             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** `Dataset.observe` — in-flight data-quality metrics, the API a
    * production job uses to monitor what it processed WITHOUT a second
    * scan (the metrics ride the main job's rows; at 100 TB a separate
    * validation query doubles the read bill). A lineitem pass computes
    * its business result (shipped-line count) while observe
    * accumulates row count, exact-micros revenue, and quantity bounds
    * on the SAME scan; the observed row is collected through a
    * QueryExecutionListener (delivered on the listener bus — flushed
    * via the same shim the bench uses, because the events are async)
    * and RETURNED as the query result, so the oracle gate certifies
    * the observe path end to end: a dropped or double-counted
    * observation flips the hash. Observe aggregates must be
    * deterministic and distinct-free (the API's contract) — count,
    * integer-micros sum, min/max all qualify. */
  def q55Observe(s: SparkSession, d: String): DataFrame = {
    val metricsName = "graft_q55_metrics"
    @volatile var captured: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(metricsName).foreach(r => captured = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val observed = Tables.lineitem(s, d)
        .select(col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
        .observe(metricsName,
          count(lit(1)).as("n_rows"),
          sum(round(col("l_extendedprice") * lit(1000000L)).cast("long")).as("rev_us"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
      val shipped = observed.filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .count()
      // the observed row arrives async on the listener bus; flush, then —
      // because a single flush can time out at 10 s on a loaded host —
      // POLL for the capture before giving up, so a slow bus degrades to
      // a short wait instead of aborting a query whose data is fine.
      // Only if the event never lands within the whole budget is failing
      // correct: returning without the observed row would silently
      // certify nothing.
      var waitedMs = 0
      while (captured.isEmpty && waitedMs < 30000) {
        try org.apache.spark.graft.ListenerFlush.waitUntilEmpty(s.sparkContext)
        catch { case _: Throwable => () }
        if (captured.isEmpty) { Thread.sleep(100); waitedMs += 100 }
      }
      val m = captured.getOrElse(
        throw new IllegalStateException("observe metrics were not delivered within 30 s"))
      import s.implicits._
      Seq((m.getAs[Long]("n_rows"), m.getAs[Long]("rev_us"),
          m.getAs[Double]("min_qty"), m.getAs[Double]("max_qty"), shipped))
        .toDF("n_rows", "rev_us", "min_qty", "max_qty", "n_shipped_95")
    } finally s.listenerManager.unregister(listener)
  }

  val q55Sql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |  CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shipped_95
      |FROM lineitem""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_observe" -> (q55Observe _),
    "q54_correlated_sub" -> (q54CorrelatedSub _),
    "q53_column_profile" -> (q53ColumnProfile _),
    "q52_skew_join" -> (q52SkewJoin _),
    "q51_cohort_ltv" -> (q51CohortLtv _),
    "q50_rfm" -> (q50Rfm _),
    "q49_returns" -> (q49Returns _),
    "q48_decile_moves" -> (q48DecileMoves _),
    "q41_funnel" -> (q41Funnel _),
    "q42_retention" -> (q42Retention _),
    "q43_trailing_dau" -> (q43TrailingDau _),
    "q44_attribution" -> (q44Attribution _),
    "q45_pareto" -> (q45Pareto _),
    "q46_yoy" -> (q46Yoy _),
    "q47_basket" -> (q47Basket _))

  val oracles: Map[String, String] = Map(
    "q55_observe" -> q55Sql,
    "q54_correlated_sub" -> q54Sql,
    "q53_column_profile" -> q53Sql,
    "q52_skew_join" -> q52Sql,
    "q51_cohort_ltv" -> q51Sql,
    "q50_rfm" -> q50Sql,
    "q49_returns" -> q49Sql,
    "q48_decile_moves" -> q48Sql,
    "q45_pareto" -> q45Sql,
    "q44_attribution" -> q44Sql,
    "q41_funnel" -> q41Sql,
    "q42_retention" -> q42Sql,
    "q43_trailing_dau" -> q43Sql,
    "q46_yoy" -> q46Sql,
    "q47_basket" -> q47Sql)
}
