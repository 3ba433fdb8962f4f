package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Streaming operators over the events table (SURVEY.md §2G).
  *
  * `windowAgg` runs a REAL Structured Streaming query (readStream over the
  * parquet dir, watermark, tumbling window, memory sink) and returns the
  * materialized result; the DuckDB oracle is the batch-equivalent SQL, so
  * the driver check proves stream/batch consistency — Spark's core
  * streaming guarantee. `sessionize` is the classic stateful operator,
  * implemented as the declarative gaps-and-islands window plan (its
  * true-streaming twin is [[sessionizeStream]], a flatMapGroupsWithState
  * state machine) and checked against the same-shaped SQL oracle.
  */
object EventStream {

  /** Per-user open-session state for [[sessionizeStream]]. `totalMicros`
    * accumulates the session value in exact micros (the long twin of
    * [[moneySum]]'s integer arithmetic), so totals are order-insensitive
    * and agree with the batch/oracle arithmetic bit-for-bit. */
  case class SessionState(start: Long, end: Long, n: Long, totalMicros: Long)

  /** Per-user throttle state for [[throttle]]: the open day window and
    * how many events it has seen. ONE pair per active user — event-time
    * ordering within the group means an older window can never receive
    * another event, so the counter is overwritten, not accumulated. */
  case class ThrottleState(dayUs: Long, n: Long)

  /** Exact cross-engine money sum rounded to cents — see
    * [[graft.operators.ExactRound.moneySum]]. */
  private def moneySum(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.operators.ExactRound.moneySum(value)

  private def moneySumSql(expr: String): String =
    graft.operators.ExactRound.moneySumSql(expr)

  /** Double → exact micros — see [[graft.operators.ExactRound.valueMicros]]. */
  private def valueMicros(v: Double): Long =
    graft.operators.ExactRound.valueMicros(v)

  /** Micros → the rounded-to-cents double the queries emit, matching
    * [[moneySum]]'s integer arithmetic. */
  private def microsToValue(m: Long): Double = {
    val cents = if (m >= 0) (m + 5000) / 10000 else -((-m + 5000) / 10000)
    cents.toDouble / 100.0
  }

  /** Raw parquet schema of events, parameterized by the `ts` type the
    * FILE actually carries. Streaming reads require an explicit user
    * schema, and Spark's parquet reader cannot convert an
    * INT64/TIMESTAMP(NANOS) column into an explicit TimestampType field
    * — `nanosAsLong` affects schema INFERENCE only — so pinning
    * TimestampType here would break every streaming query the moment
    * the driver regenerates testdata back to the round-3 NANOS layout
    * (batch paths survive via inference + [[Tables.normalizeTs]]). The
    * streaming read therefore declares whatever batch inference reports
    * ([[probeTsType]]) and normalizes after. */
  private[graft] def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** The `ts` type batch inference reports for `<d>/events.parquet` —
    * LongType (NANOS layout under the legacy flag), TIMESTAMP_NTZ
    * (MICROS, isAdjustedToUTC=false) or TIMESTAMP. Footer-only read:
    * no data scan, negligible next to running the query. */
  private[graft] def probeTsType(s: SparkSession, d: String): org.apache.spark.sql.types.DataType =
    Tables.load(s, d, "events").schema("ts").dataType

  /** THE streaming events source: explicit file-matching schema
    * (probed, see [[rawSchema]]), then [[Tables.normalizeTs]] so every
    * downstream operator sees one canonical session-UTC TIMESTAMP `ts`
    * regardless of the generator's layout. Reader conf is initialized
    * once per session in [[Tables.events]]'s `ensureLegacyNanos`, not
    * mutated per query. */
  private[graft] def eventStream(s: SparkSession, d: String): DataFrame = {
    Tables.ensureLegacyNanos(s)
    s.readStream
      .schema(rawSchema(probeTsType(s, d)))
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(Tables.normalizeTs)
  }

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Stateful streaming operators allocate one state store per shuffle
    * partition per micro-batch, so the partition count is sized to the
    * SOURCE VOLUME (~32 MB of input per store, capped at the session's
    * parallelism) rather than the batch default of one per core — at
    * small volume the empty stores are pure overhead, at large volume
    * the cap keeps stores from outnumbering cores. Deployments with
    * known key cardinality/throughput can pin `graft.stream.shuffle`
    * instead. */
  private[graft] def sourceBytes(s: SparkSession, d: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(d, "events.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    } catch { case _: Throwable => 0L }

  private[graft] def streamShufflePartitions(s: SparkSession, d: String): Int =
    s.conf.getOption(graft.GraftConf.streamShuffleKey).map(_.toInt).getOrElse {
      math.max(1, math.min((sourceBytes(s, d) / graft.GraftConf.streamBytesPerStore + 1).toInt,
        s.sparkContext.defaultParallelism))
    }

  /** Runs `body` under the streaming shuffle width, codegen and
    * state-store confs ([[graft.operators.Shared.withConfs]] restores
    * them after). */
  private def withStreamShuffle[T](s: SparkSession, d: String)(body: => T): T = {
    // parse every pin before mutating any session conf: a fail-loud
    // rejection below must not leave half the harness confs applied
    val pinnedRocks: Option[Boolean] =
      s.conf.getOption(graft.GraftConf.streamStateStoreKey) match {
        case Some("rocksdb") => Some(true)
        case Some("hdfs")    => Some(false)
        case Some(bad)       => sys.error(
          s"${graft.GraftConf.streamStateStoreKey} must be 'rocksdb' or 'hdfs', got '$bad'")
        case None => None
      }
    // whole-stage codegen is a THROUGHPUT trade: each micro-batch
    // re-plans with per-batch literals (watermark value, batch id), so
    // every batch of every stateful stage generates a NEW class —
    // janino compile + HotSpot JIT that then executes ONCE over a
    // micro-batch (measured: 1.8-2.7 s of steady-pass JIT per stateful
    // query, against micro-batches of at most a few hundred thousand
    // rows — codegen-off won the family by 29% at that size, r8).
    // ADAPTIVE since r9: the same fixed per-batch compile tax
    // AMORTIZES once batches are large, so the decision now follows
    // measured source volume against the committed crossover
    // (GraftConf.streamCodegenBytes, measurement in BASELINE.md);
    // deployments pin it via the graft.stream.codegen conf.
    val codegen = s.conf.getOption(graft.GraftConf.streamCodegenKey)
      .map(_.toBoolean)
      .getOrElse(sourceBytes(s, d) >= graft.GraftConf.streamCodegenBytes)
    // ADAPTIVE STATE-STORE BACKEND (r11, the codegen discipline applied
    // to state): the default HDFS-backed provider holds every store's
    // map + retained versions on heap — the 100× streaming probe
    // measured st_session_window at 124.7 s steady with 103 s of GC,
    // and the shared 10-query probe JVM heap-OOM'd. Past the measured
    // crossover (GraftConf.streamRocksDbBytes) state moves to RocksDB
    // (off-heap, the production backend at 100 TB); below it the
    // on-heap store's zero-serialization lookups keep winning at
    // micro-batch size. Only ever SETS RocksDB (restoring after), so a
    // transformWithState query's own RocksDB pin is never overridden;
    // deployments pin via graft.stream.statestore = rocksdb|hdfs.
    // fail-loud pin (ADVICE r11): the codegen pin above throws on a
    // non-boolean via toBoolean, and a `match` that defaulted any
    // non-"rocksdb" string to the HDFS backend would turn a typo
    // ("RocksDB", "true") into a silent re-exposure of the 100× heap
    // OOM this backend decision exists to prevent.
    val rocks = pinnedRocks.getOrElse(
      sourceBytes(s, d) >= graft.GraftConf.streamRocksDbBytes)
    graft.operators.Shared.withConfs(s, Map(
      "spark.sql.shuffle.partitions" -> streamShufflePartitions(s, d).toString,
      "spark.sql.codegen.wholeStage" -> codegen.toString) ++
      (if (rocks) Map(stateStoreKey -> rocksDbProvider) else Map.empty))(body)
  }

  private val stateStoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** Scoped around the `transformWithState` drains, which require the
    * RocksDB provider (its column-family state layout); every other
    * stateful query here runs on the adaptive default. */
  private val rocksDbState = Map(stateStoreKey -> rocksDbProvider)

  /** Drains `df` through the production sink shape — foreachBatch →
    * parquet, executor-side writes, nothing driver-resident — and
    * returns the drained table. Gate queries used to materialize via a
    * driver MEMORY sink, and that sink, not the state store, was the
    * measured 1000× wall (r12: st_session_window's 95.5 M-row
    * complete-mode session table breached `driver.maxResultSize` at
    * 1 GiB, while the same pipeline completed in 215 s through
    * foreachBatch → parquet). The pipeline runs under the identical
    * harness wrapper, so the adaptive codegen/state-store decisions
    * apply unchanged. Row-multiset parity with the memory sink per
    * output mode (so every oracle is unchanged): complete overwrites per
    * batch (last batch wins = the memory sink's table replacement),
    * append/update append each batch's emitted rows (= its table
    * accumulation). Only the two query-object-certificate gates
    * (chainedStateful, availableNow — their certificates read
    * `q.recentProgress`) still hand-build a memory sink.
    *
    * Writes into `out`, which the caller owns; the checkpoint is
    * per-run state and goes when the query stops. A zero-emission drain
    * (no batch wrote) writes an empty table with the stream's schema, so
    * `out` always reads back as one parquet table. */
  private[graft] def drainToFiles(s: SparkSession, d: String, df: DataFrame,
      out: String, mode: String): Unit = {
    graft.Scratch.withDir("graft-fsink-ckpt-") { ckpt =>
      withStreamShuffle(s, d) {
        val q = df.writeStream
          .outputMode(mode)
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            batch.write.mode(if (mode == "complete") "overwrite" else "append").parquet(out)
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
    }
    if (!new java.io.File(out).list().exists(_.endsWith(".parquet")))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
        .write.mode("append").parquet(out)
  }

  /** [[drainToFiles]] into a fresh `graft-gate-<name>-` directory under
    * the scratch root, whose shutdown hook removes it: the returned
    * frame reads it lazily. */
  private def drain(s: SparkSession, d: String, df: DataFrame,
      name: String, mode: String): DataFrame = {
    val out = graft.Scratch.scratchDir(s"graft-gate-$name-").toString
    drainToFiles(s, d, df, out, mode)
    s.read.parquet(out)
  }

  /** Tumbling 5-minute window counts/sums per event type via a real
    * streaming query. Each parquet file is a micro-batch; complete mode +
    * memory sink materializes the final state — and in complete mode the
    * watermark is a no-op (state holds all windows, late data is never
    * evicted). A continuous deployment runs the same plan in
    * append/update mode against a changelog sink, where the watermark
    * genuinely bounds state. */
  def windowAgg(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(date_format(col("window.start"), fmt).as("window_start"),
        col("event_type"), col("n"), col("total_value"))
    val name = "graft_st_window_agg"
    val drained = drain(s, d, stream, name, "complete")
    drained.orderBy("window_start", "event_type")
  }

  val windowAggSql: String =
    s"""SELECT strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
       | event_type, count(*) AS n,
       | ${moneySumSql("value")} AS total_value
       |FROM events
       |GROUP BY window_start, event_type
       |ORDER BY window_start, event_type""".stripMargin

  /** The same tumbling-window aggregation in APPEND mode — the
    * production shape where the watermark genuinely EVICTS: a window row
    * is emitted (exactly once) only after the watermark passes the
    * window end, and its state is dropped. Under the harness execution
    * (all files in one batch, then a finalization batch at watermark =
    * max event time − 10 min) the emitted set is a deterministic
    * function of the data — windows with `end ≤ watermark` — so this
    * pins the eviction contract bit-exactly: which windows flush, which
    * stay open (the tail windows are ABSENT from the output by design).
    * Complements [[windowAgg]] (complete mode, everything visible) and
    * [[sessionizeStreamFinal]] (the same watermark arithmetic for
    * timeout state). */
  def appendWindows(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(date_format(col("window.start"), fmt).as("window_start"),
        date_format(col("window.end"), fmt).as("window_end"),
        col("event_type"), col("n"), col("total_value"))
    val name = "graft_st_append_windows"
    val drained = drain(s, d, stream, name, "append")
    drained.orderBy("window_start", "event_type")
  }

  /** Batch replay of the eviction predicate: emitted windows are those
    * whose end (ms) ≤ the end-of-stream watermark `⌊max_µs/1000⌋ −
    * 600 000` — the same integer-ms floors as [[sessionizeStreamFinalSql]]. */
  val appendWindowsSql: String =
    s"""WITH w AS (
       |  SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS wstart,
       |    event_type, count(*) AS n, ${moneySumSql("value")} AS total_value
       |  FROM events
       |  GROUP BY wstart, event_type
       |), wm AS (
       |  SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) - 600000 AS wm_ms FROM events
       |)
       |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       | strftime(wstart + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
       | event_type, n, total_value
       |FROM w, wm
       |WHERE epoch_us(wstart + INTERVAL '5 minutes') // 1000 <= wm_ms
       |ORDER BY window_start, event_type""".stripMargin

  /** Session windows per user with a 30-minute inactivity gap, as the
    * declarative gaps-and-islands plan: lag marks a break at every gap,
    * a running sum of breaks numbers the sessions, one grouped aggregate
    * closes them. This is a shuffle-sort window — it spills instead of
    * buffering a whole user in memory, so a key with years of history is
    * fine at scale — and it mirrors the SQL oracle structurally.
    * `total_value` is summed via [[moneySum]]: exact integer micros,
    * order-insensitive, identical across engines regardless of partial-
    * aggregation order. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val gapMicros = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_id"),
        date_format(timestamp_micros(col("start_us")), fmt).as("session_start"),
        date_format(timestamp_micros(col("end_us")), fmt).as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** True streaming sessionization: readStream → groupByKey(user) →
    * flatMapGroupsWithState with an explicit per-user session state and
    * event-time timeout. A session emits either when a later event for
    * the same user opens the next session (`closed_by = 'gap'` — a
    * deterministic function of the data alone) or when the watermark
    * passes its 30-minute gap (`closed_by = 'timeout'` — a function of
    * watermark/trigger timing). The batch `sessionize` is the semantic
    * oracle; the spec checks the streamed sessions match the batch result
    * for all sessions the watermark has closed, and the driver-checked
    * [[sessionizeStreamClosed]] pins the gap-closed subset bit-exactly. */
  def sessionizeStream(s: SparkSession, d: String): DataFrame =
    runSessionStream(s, d)
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), fmt).as("session_start"),
        date_format(timestamp_micros(col("end_us")), fmt).as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")

  /** Driver-checked slice of [[sessionizeStream]]: only the sessions
    * closed by a subsequent event (each user's non-final sessions). That
    * subset is invariant to micro-batch boundaries and watermark timing,
    * so it hash-matches a pure batch oracle — the gaps-and-islands SQL
    * restricted to sessions that have a successor. */
  def sessionizeStreamClosed(s: SparkSession, d: String): DataFrame =
    runSessionStream(s, d)
      .filter(col("closed_by") === "gap")
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), fmt).as("session_start"),
        date_format(timestamp_micros(col("end_us")), fmt).as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")

  /** Driver-checked TIMEOUT slice of [[sessionizeStream]] — the
    * complement of [[sessionizeStreamClosed]]: sessions closed because
    * the event-time watermark passed their gap, i.e. each user's FINAL
    * session when its timeout timestamp fell behind the end-of-stream
    * watermark. Under the harness execution (file source with no
    * maxFilesPerTrigger → all data in one micro-batch, then a timeout
    * batch at watermark = max event time − 1 min) this slice is a
    * deterministic function of the data, so it gets a bit-exact oracle:
    * final sessions with `⌊end_µs/1000⌋ + 30·60·1000 + 1 <
    * ⌊max_µs/1000⌋ − 60·1000` (the exact integer-ms arithmetic of
    * `setTimeoutTimestamp` and Spark's µs→ms watermark floor; strict `<`
    * is Spark's timeout comparison). This pins the
    * `flatMapGroupsWithState` TIMEOUT path — state removal and
    * emit-on-timeout — which the gap slice never exercises. */
  def sessionizeStreamFinal(s: SparkSession, d: String): DataFrame =
    runSessionStream(s, d)
      .filter(col("closed_by") === "timeout")
      .select(col("user_id"),
        date_format(timestamp_micros(col("start_us")), fmt).as("session_start"),
        date_format(timestamp_micros(col("end_us")), fmt).as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")

  private def runSessionStream(s: SparkSession, d: String): DataFrame =
    // r14: TWO declared queries (st_sessionize_stream = the gap-closed
    // slice, st_sessionize_final = the timeout slice) drain this same
    // FSM stream and then filter disjoint halves of it — the shared
    // derived table pattern (Shared.memoDir contract: session-scoped,
    // keyed on applicationId, dies with the JVM). The first consumer
    // pays the full drain, whose foreachBatch writes land straight in
    // the memo directory (the table is written once, never copied);
    // the second scans it instead of replaying the whole micro-batch
    // pipeline. The drained multiset is deterministic (single events
    // file + the no-data watermark batch, append mode accumulates every
    // emitted session) and both consumers re-apply their own ordering;
    // each slice stays oracle-gated per query.
    s.read.parquet(graft.operators.Shared.memoDir(s, d, "st_sessionize_drained") { dir =>
      drainToFiles(s, d, sessionFsmStream(s, d), dir.toString, "append")
    }.toString)

  /** The flatMapGroupsWithState session FSM without a sink, drained by
    * [[runSessionStream]]. */
  private def sessionFsmStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val session = s
    import session.implicits._
    val gapMicros = 30L * 60 * 1000 * 1000

    // gap math MUST be in microseconds to agree with the batch sessionize
    // oracle (Timestamp.getTime truncates to ms; 99.9% of events carry
    // sub-ms components, so boundary decisions would diverge)
    val events = eventStream(s, d)
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Long, Double)]

    val sessions = events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long, Long, Double, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[(Long, java.sql.Timestamp, Long, Long, Double)],
         state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double, String)]
          var cur = state.getOption
          // events within a micro-batch arrive unordered: sort by
          // (event time, event_id) — the same total order the batch
          // sessionizer and its oracle fold in
          batch.toSeq.sortBy(e => (e._3, e._4)).foreach { case (_, _, t, _, v) =>
            cur match {
              case Some(st) if t - st.end > gapMicros =>
                out += ((userId, st.start, st.end, st.n, microsToValue(st.totalMicros), "gap"))
                cur = Some(SessionState(t, t, 1, valueMicros(v)))
              case Some(st) =>
                cur = Some(SessionState(st.start, math.max(st.end, t), st.n + 1,
                  st.totalMicros + valueMicros(v)))
              case None =>
                cur = Some(SessionState(t, t, 1, valueMicros(v)))
            }
          }
          if (state.hasTimedOut) {
            cur.foreach(st =>
              out += ((userId, st.start, st.end, st.n, microsToValue(st.totalMicros), "timeout")))
            state.remove()
          } else {
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.end / 1000 + gapMicros / 1000 + 1) // timeout API is ms
            }
          }
          out.iterator
      }
      .toDF("user_id", "start_us", "end_us", "n_events", "total_value", "closed_by")
    sessions
  }

  /** Oracle for [[sessionizeStreamClosed]]: the batch gaps-and-islands
    * sessions that have a later session for the same user. */
  val sessionizeStreamClosedSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM ordered
      |), sess AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |), closed AS (
      |  SELECT user_id, session_id,
      |   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |   count(*) AS n_events,
      |   MONEY_SUM AS total_value,
      |   max(session_id) OVER (PARTITION BY user_id) AS max_sid
      |  FROM sess GROUP BY user_id, session_id
      |)
      |SELECT user_id, session_start, session_end, n_events, total_value
      |FROM closed WHERE session_id < max_sid
      |ORDER BY user_id, session_start""".stripMargin
      .replace("MONEY_SUM", moneySumSql("value"))

  /** Oracle for [[sessionizeStreamFinal]]: batch final sessions whose
    * timeout timestamp (end ms + gap ms + 1) is strictly below the
    * end-of-stream watermark (max event ms − 60 000), all in the same
    * integer-ms floors the streaming engine uses. */
  val sessionizeStreamFinalSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM ordered
      |), sess AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |), agg AS (
      |  SELECT user_id, session_id,
      |   min(ts) AS start_ts, max(ts) AS end_ts,
      |   count(*) AS n_events,
      |   MONEY_SUM AS total_value,
      |   max(session_id) OVER (PARTITION BY user_id) AS max_sid
      |  FROM sess GROUP BY user_id, session_id
      |), wm AS (
      |  SELECT (epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000) - 60000 AS wm_ms FROM events
      |)
      |SELECT user_id,
      | strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
      | strftime(end_ts, '%Y-%m-%d %H:%M:%S') AS session_end,
      | n_events, total_value
      |FROM agg, wm
      |WHERE session_id = max_sid
      |  AND (epoch_us(end_ts) // 1000) + 1800001 < wm_ms
      |ORDER BY user_id, session_start""".stripMargin
      .replace("MONEY_SUM", moneySumSql("value"))

  val sessionizeSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM ordered
      |), sess AS (
      |  -- CAST: DuckDB's windowed sum yields HUGEINT, which pandas would
      |  -- render as float ("1.0" vs "1") and fail the exact hash gate
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id,
      | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      | count(*) AS n_events,
      | MONEY_SUM AS total_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin
      .replace("MONEY_SUM", moneySumSql("value"))

  /** The BUILT-IN session-window aggregation — Spark's native
    * `session_window(ts, gap)` run as a real streaming query, covering
    * the declarative third of the sessionization triangle (batch
    * gaps-and-islands [[sessionize]], hand-rolled state machine
    * [[sessionizeStream]], and this: the operator Spark itself ships
    * for the job, with merging session state inside the aggregation —
    * the engine-preference order says use THIS before writing
    * flatMapGroupsWithState). Semantics differ from gaps-and-islands
    * at exactly one point, pinned here: a session's END is
    * last_event + gap (the window's extent), not the last event's
    * timestamp, and a gap of EXACTLY 30 minutes starts a new session
    * (windows are half-open, so touching endpoints don't merge; the
    * island formulation's `> gap` keeps them together — the oracle
    * twin uses `>=` accordingly). Complete mode materializes final
    * merged state; one micro-batch means the watermark never evicts,
    * so the result is a pure function of the data. */
  def sessionWindowAgg(s: SparkSession, d: String): DataFrame = {
    val stream = sessionWindowStream(s, d)
    val name = "graft_st_session_window"
    val drained = drain(s, d, stream, name, "complete")
    drained.orderBy("user_id", "session_start")
  }

  /** The session-window pipeline without a sink, drained by the gate
    * query above. */
  private def sessionWindowStream(s: SparkSession, d: String): DataFrame =
    eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), fmt).as("session_start"),
        date_format(col("session_window.end"), fmt).as("session_end"),
        col("n_events"), col("total_value"))

  /** SQL twin: gaps-and-islands with the two session_window deltas —
    * `>=` break (touching windows don't merge) and end = max + gap. */
  val sessionWindowAggSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM ordered
      |), sess AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id,
      | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      | count(*) AS n_events,
      | MONEY_SUM AS total_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin
      .replace("MONEY_SUM", moneySumSql("value"))

  /** Streaming admission control (per-user rate cap): at most
    * [[graft.GraftConf.throttleCapPerDay]] events per user per tumbling
    * UTC day are admitted, in (event-time, event_id) order; EVERY event
    * gets a decision row (append stream) carrying its within-window
    * rank — the quota/abuse-control operator an ingestion edge runs,
    * with the audit trail of what was dropped. State is one
    * (window, count) pair per active user ([[ThrottleState]]): events
    * are processed in event-time order within the group, so opening a
    * later window overwrites the old counter, and event-time timeout
    * removes a user's state one minute past its window end — bounded
    * state at any stream length. Late events behind the watermark are
    * dropped by the engine in production; under the harness's
    * single-batch execution the decision table is a pure function of
    * the data, so it carries a bit-exact batch oracle
    * (row_number ≤ cap per (user, day)). */
  def throttle(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val session = s
    import session.implicits._
    val cap = graft.GraftConf.throttleCapPerDay
    val dayUs = 86400L * 1000 * 1000
    val events = eventStream(s, d)
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
    val decisions = events
      .groupByKey(_._1)
      .flatMapGroupsWithState[ThrottleState, (Long, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[(Long, java.sql.Timestamp, Long, Long)],
         state: GroupState[ThrottleState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Boolean)]
          var cur = state.getOption
          // same total order as the batch oracle: (event time, event_id)
          batch.toSeq.sortBy(e => (e._3, e._4)).foreach { case (_, _, t, id) =>
            val day = math.floorDiv(t, dayUs) * dayUs
            val n = cur match {
              case Some(st) if st.dayUs == day => st.n + 1
              case _                           => 1L
            }
            cur = Some(ThrottleState(day, n))
            out += ((userId, id, day, n, n <= cap))
          }
          if (state.hasTimedOut) state.remove()
          else cur.foreach { st =>
            state.update(st)
            // evict one minute past the window end (timeout API is ms)
            state.setTimeoutTimestamp((st.dayUs + dayUs) / 1000 + 60000)
          }
          out.iterator
      }
      .toDF("user_id", "event_id", "window_us", "rnk", "admitted")
    val name = "graft_st_throttle"
    val drained = drain(s, d, decisions, name, "append")
    drained
      .select(col("user_id"), col("event_id"),
        date_format(timestamp_micros(col("window_us")), fmt).as("window_start"),
        col("rnk"), col("admitted"))
      .orderBy("user_id", "event_id")
  }

  /** Oracle for [[throttle]]: rank per (user, UTC day) in the identical
    * (ts, event_id) order; DuckDB's 1-day time_bucket is epoch-midnight
    * aligned, matching the engine's `floorDiv(ts_us, day)` bucketing. */
  val throttleSql: String =
    s"""WITH b AS (
       |  SELECT user_id, event_id,
       |    time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS w,
       |    row_number() OVER (
       |      PARTITION BY user_id, time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP))
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM events
       |)
       |SELECT user_id, event_id,
       |  strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       |  CAST(rn AS BIGINT) AS rnk,
       |  rn <= ${graft.GraftConf.throttleCapPerDay} AS admitted
       |FROM b
       |ORDER BY user_id, event_id""".stripMargin

  /** Streaming deduplication: dropDuplicates on event_id with a watermark
    * bounding the dedup state, then per-type counts — the standard
    * exactly-once ingestion guard. Oracle: batch distinct counts. */
  def dedupStream(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
    val name = "graft_st_dedup"
    val drained = drain(s, d, stream, name, "complete")
    drained.orderBy("event_type")
  }

  val dedupStreamSql: String =
    s"""SELECT event_type, count(*) AS n,
       | ${moneySumSql("value")} AS total_value FROM (
       |  SELECT DISTINCT ON (event_id) event_type, value FROM events ORDER BY event_id
       |)
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Stream-static enrichment join: the event stream joins the customer
    * dimension (static, broadcast per micro-batch) and aggregates revenue
    * by market segment — the canonical streaming-ETL enrichment shape.
    * Oracle: the batch-equivalent join. */
  def enrich(s: SparkSession, d: String): DataFrame = {
    val customers = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val stream = eventStream(s, d)
      .join(broadcast(customers), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
    val name = "graft_st_enrich"
    val drained = drain(s, d, stream, name, "complete")
    drained.orderBy("c_mktsegment", "event_type")
  }

  val enrichSql: String =
    s"""SELECT c_mktsegment, event_type, count(*) AS n,
       | ${moneySumSql("value")} AS total_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY c_mktsegment, event_type
       |ORDER BY c_mktsegment, event_type""".stripMargin

  /** Stream-stream event-time interval join: clicks joined to the same
    * user's purchases within the following 30 minutes. Both sides are
    * real streams with watermarks bounding the join state — the canonical
    * attribution join; at scale the watermark is what keeps per-key state
    * finite. Inner interval joins emit complete results, so the batch
    * range-join oracle is exact. */
  def streamJoin(s: SparkSession, d: String): DataFrame = {
    def src = eventStream(s, d)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    val name = "graft_st_stream_join"
    val drained = drain(s, d, joined, name, "append")
    drained
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        date_format(col("click_ts"), fmt).as("click_ts"),
        date_format(col("purchase_ts"), fmt).as("purchase_ts"))
      .orderBy("click_id", "purchase_id")
  }

  val streamJoinSql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
      | strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_ts,
      | strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.user_id = c.user_id
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  /** LEFT-OUTER stream-stream join — the interval-join semantics
    * surface [[streamJoin]]'s inner join cannot pin: a click with NO
    * purchase in its 30-minute attribution window must still be
    * EMITTED (with null right side) — but only once the watermark
    * proves no matching purchase can still arrive, which is the
    * engine behavior this query certifies end to end. State cost is
    * identical to the inner join (both sides buffered inside the
    * watermark + interval bound); the null-emission is pure
    * bookkeeping on eviction.
    *
    * The stream is two scratch micro-batches: batch 0 = the whole
    * events table, batch 1 = two synthetic TICK rows (one per side,
    * `event_id` −1/−2, `user_id` −1/−2 so they can match nothing) at
    * max(ts) + 1 hour — they advance BOTH sides' watermarks past every
    * real click's window so every unmatched click is flushed before
    * the query stops (the engine runs watermark-advance no-data
    * batches after the last file; the lateData tick discipline, here
    * with a data-derived timestamp so the oracle stays a pure LEFT
    * JOIN over the corpus). Ticks are filtered back out of the sink
    * output. Null-free result encoding (`purchase_id` −1, empty
    * `purchase_ts`, `matched` flag) keeps the cross-engine compare
    * type-stable — a nullable BIGINT decays to float on both pandas
    * paths. */
  /** Memoized two-batch layout shared by [[streamStreamOuter]] and
    * [[chainedStateful]]: batch 0 = the whole events table, batch 1 =
    * the two can-match-nothing tick rows at max(ts) + 1 hour that
    * flush both sides' watermarks. A pure function of the events
    * table, so one build serves every consumer in the session. */
  private def clickPurchaseDir(s: SparkSession, d: String): java.io.File =
    graft.operators.Shared.memoDir(s, d, "st_click_purchase") { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
        .localCheckpoint(eager = true)
      val ticks = ev.agg(max("ts").as("mts"))
        .select(explode(array(
          struct(lit(-1L).as("event_id"),
            (col("mts") + expr("INTERVAL 1 HOUR")).as("ts"),
            lit(-1L).as("user_id"), lit("click").as("event_type")),
          struct(lit(-2L).as("event_id"),
            (col("mts") + expr("INTERVAL 1 HOUR")).as("ts"),
            lit(-2L).as("user_id"), lit("purchase").as("event_type")))).as("r"))
        .select(col("r.event_id"), col("r.ts"), col("r.user_id"), col("r.event_type"))
      val t0 = System.currentTimeMillis()
      scratchFile(ev, dir, "0-data", t0 - 60000)
      scratchFile(ticks, dir, "1-ticks", t0)
    }

  def streamStreamOuter(s: SparkSession, d: String): DataFrame = {
    // input layout memoized per (session, dir): a pure function of the
    // events table, so later runs skip straight to the stream drain
    val dataDir = clickPurchaseDir(s, d)
    locally {
      val src = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("user_id", LongType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      val name = "graft_st_stream_outer"
      val drained = drain(s, dataDir.toString, joined, name, "append")
      drained
        .filter(col("click_id") >= 0)
        .select(col("click_id"), col("user_id"),
          date_format(col("click_ts"), fmt).as("click_ts"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(date_format(col("purchase_ts"), fmt), lit("")).as("purchase_ts"),
          col("purchase_id").isNotNull.as("matched"))
        .orderBy("click_id", "purchase_id")
        .localCheckpoint()
    }
  }

  val streamStreamOuterSql: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT c.click_id, c.user_id,
      |  strftime(c.cts, '%Y-%m-%d %H:%M:%S') AS click_ts,
      |  coalesce(p.purchase_id, -1) AS purchase_id,
      |  coalesce(strftime(p.pts, '%Y-%m-%d %H:%M:%S'), '') AS purchase_ts,
      |  p.purchase_id IS NOT NULL AS matched
      |FROM c LEFT JOIN p
      |  ON p.user_id = c.user_id
      | AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 30 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Streaming windowed top-k ("trending items"): tumbling 1-hour counts
    * per event type maintained by a genuine streaming aggregation
    * (watermark-bounded state), with the top-2 rank computed over the
    * materialized sink — the stream-then-serve split every trending
    * dashboard uses. Ranking on the stream itself is deliberately NOT
    * attempted: per-window top-k over updating state is not expressible
    * as a streaming window function, and doesn't need to be — the ranked
    * layer reads the compacted aggregate (cardinality = windows ×
    * types, tiny at any scale), not the raw stream. At 100 TB/day the
    * serve query costs seconds; the heavy lifting (event counting)
    * happens incrementally in the stream with partial aggregation. */
  def topkStream(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), fmt).as("window_start"),
        col("event_type"), col("n"))
    val name = "graft_st_topk"
    val drained = drain(s, d, stream, name, "complete")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n").desc, col("event_type"))
    drained
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .orderBy("window_start", "rank")
  }

  val topkStreamSql: String =
    """SELECT window_start, event_type, n, rank FROM (
      |  SELECT window_start, event_type, n,
      |    row_number() OVER (PARTITION BY window_start ORDER BY n DESC, event_type) AS rank
      |  FROM (
      |    SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
      |      event_type, count(*) AS n
      |    FROM events GROUP BY 1, 2
      |  )
      |)
      |WHERE rank <= 2
      |ORDER BY window_start, rank""".stripMargin

  /** SLIDING-window streaming aggregation (30-minute windows every 10
    * minutes): each event lands in 3 overlapping windows — the
    * trailing-rate shape tumbling windows cannot express (a tumbling
    * user sees a spike up to a full window late; a slide bounds that lag
    * to the hop). Spark assigns each row its window set in the same
    * Expand-style projection the batch twin spells out, then the
    * watermarked streaming aggregate proceeds exactly as in
    * [[windowAgg]] — state is windows × types, bounded by the watermark
    * at any scale. */
  def slidingAgg(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(date_format(col("window.start"), fmt).as("window_start"),
        col("event_type"), col("n"), col("total_value"))
    val name = "graft_st_sliding"
    val drained = drain(s, d, stream, name, "complete")
    drained.orderBy("window_start", "event_type")
  }

  /** Batch twin: every event joins its 3 covering window starts
    * (hop-bucket minus 0/10/20 minutes — the same epoch-aligned starts
    * Spark's `window(ts, 30m, 10m)` assigns). */
  val slidingAggSql: String =
    s"""WITH ev AS (
       |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
       |), wins AS (
       |  SELECT time_bucket(INTERVAL '10 minutes', ts) - o.off AS wstart, event_type, value
       |  FROM ev, (SELECT unnest([INTERVAL '0 minutes', INTERVAL '10 minutes', INTERVAL '20 minutes']) AS off) o
       |)
       |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       | event_type, count(*) AS n,
       | ${moneySumSql("value")} AS total_value
       |FROM wins
       |GROUP BY window_start, event_type
       |ORDER BY window_start, event_type""".stripMargin

  /** Streaming rate-anomaly detection: hourly counts per event type
    * maintained incrementally on the stream (the [[windowAgg]] shape;
    * NOTE this harness run uses `complete` output mode, where the
    * watermark is a no-op — state holds ALL windows and late data is
    * never evicted. Watermark eviction binds only in append/update
    * modes, which is what a continuous deployment would run with a
    * changelog sink), then each window scored against the
    * type's own mean hourly rate over the compacted sink — the same
    * stream-then-serve split as [[topkStream]] (the baseline layer
    * reads windows × types rows, never the raw stream; production
    * would swap it for last week's compacted history). The anomaly
    * test `n · windows > 2 · total` is an integer cross-multiply —
    * exactly "rate > 2× mean" with no division, so the flag is
    * bit-portable. */
  def anomalyStream(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), fmt).as("window_start"),
        col("event_type"), col("n"))
    val name = "graft_st_anomaly"
    val drained = drain(s, d, stream, name, "complete")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    drained
      .withColumn("type_total", sum("n").over(w))
      .withColumn("type_windows", count(lit(1)).over(w))
      .withColumn("is_anomaly",
        col("n") * col("type_windows") > col("type_total") * 2)
      .select(col("window_start"), col("event_type"), col("n"),
        col("type_total"), col("type_windows"), col("is_anomaly"))
      .orderBy("window_start", "event_type")
  }

  val anomalyStreamSql: String =
    """WITH hourly AS (
      |  SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT window_start, event_type, n,
      |  CAST(sum(n) OVER w AS BIGINT) AS type_total,
      |  count(*) OVER w AS type_windows,
      |  n * (count(*) OVER w) > (CAST(sum(n) OVER w AS BIGINT)) * 2 AS is_anomaly
      |FROM hourly
      |WINDOW w AS (PARTITION BY event_type)
      |ORDER BY window_start, event_type""".stripMargin

  /** UNWINDOWED stateful streaming aggregation — the per-entity running
    * ledger (lifetime event count + exact money total per user),
    * maintained incrementally across micro-batches. The one stateful
    * shape the windowed queries don't cover: no watermark ever evicts
    * this state — it is O(active entities) BY DESIGN, and a production
    * deployment bounds it with state-store TTL or entity-count SLAs
    * rather than time. Money sums ride the same exact-DECIMAL path as
    * every other streaming query. */
  def runningTotals(s: SparkSession, d: String): DataFrame = {
    val stream = eventStream(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("total_value"),
        max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("total_value"),
        date_format(col("last_ts"), fmt).as("last_seen"))
    val name = "graft_st_running"
    val drained = drain(s, d, stream, name, "complete")
    drained.orderBy("user_id")
  }

  val runningTotalsSql: String =
    s"""SELECT user_id, count(*) AS n_events,
       | ${moneySumSql("value")} AS total_value,
       | strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS last_seen
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming parquet SINK + checkpoint behind the correctness gate —
    * the streaming twin of p_shard_write (which gated the BATCH
    * partitioned sink): the purchase stream is written through a real
    * `writeStream.format("parquet")` with a checkpoint directory (the
    * exactly-once file-sink commit protocol — _spark_metadata manifest +
    * WAL), the files are READ BACK, and the re-read rows must aggregate
    * to the batch oracle. Any dropped/duplicated/corrupted row flips a
    * count or a micros-exact sum. The scratch dirs are deleted eagerly
    * (the re-read is checkpointed first); the emitted result COMES from
    * the files, not the stream. */
  /** Late-data accounting under a REAL advancing watermark — the one
    * watermark behavior a single-file stream can never exercise: with
    * the whole table in micro-batch 0 the watermark is still at its
    * initial −∞ while every row is processed, so nothing is ever late.
    * Here the table is split deterministically into an on-time batch
    * (even event_ids), a one-row TICK batch (the odd row with max
    * (ts, event_id), its event time REWRITTEN to max(even ts)), and a
    * straggler batch (the remaining odd ids), written as three scratch
    * parquet files with forced modification times and streamed with
    * `maxFilesPerTrigger=1`. The tick batch exists because the
    * watermark LAGS micro-batches behind the data that produced it
    * (measured on this engine: batch N's event times take effect for
    * batch N+2's input filter) — without it the stragglers would
    * arrive while the filter still sits at its initial −∞ and nothing
    * would ever be late. The tick's REWRITTEN timestamp is what makes
    * the oracle engine-portable: batches 0 and 1 then advance the
    * watermark to the same value, so the batch-2 filter is exactly
    * `max(even ts)ms − 10 min` whether the engine's propagation lag is
    * one batch or two — the drop rule is a pure function of the data,
    * not of scheduler internals (ADVICE r5). Stragglers whose 5-minute
    * window end ≤ that watermark (the same boundary [[appendWindows]]
    * pins for emission) are DROPPED by the stateful aggregation; the
    * rest update live state. The update-mode memory sink records each key's count after
    * every batch; max(n) per key is the final count. The result joins
    * streamed counts against the batch totals: `n_late_dropped =
    * n_total − n_kept` is the per-window accounting a production
    * pipeline alerts on (data loss to watermark eviction, the #1
    * silent-wrongness source in streaming aggs). Everything is
    * deterministic — the split is id-parity, the tick is an argmax,
    * the watermark is a pure function of the even half — so the DuckDB
    * twin reproduces the drop rule exactly. */
  /** Write `df` as a single parquet file `<dataDir>/<name>.parquet`
    * with a forced modification time — the deterministic-micro-batch
    * building block: FileStreamSource orders new files by (mtime,
    * path), so explicit mtimes pin the batch sequence. */
  private def scratchFile(df: DataFrame, dataDir: java.io.File,
      name: String, mtime: Long): Unit = {
    // dot-prefixed staging dir: Spark's file listing treats '.'/'_'
    // prefixes as hidden, so the in-flight write can never surface as
    // a phantom micro-batch file of the enclosing stream dir
    val tmp = new java.io.File(dataDir, s".tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dataDir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified(mtime)
    graft.Scratch.rmTree(tmp.toString)
  }

  /** MULTI-SOURCE GLOBAL WATERMARK — the min-of-sources policy that
    * rules every fan-in topology in production: when a query reads two
    * sources with independent watermarks, the eviction/emission
    * watermark is the MINIMUM (Spark's default multipleWatermarkPolicy
    * = min), so ONE lagging source holds back every window of the
    * whole query — the "one stale Kafka partition stalls the dashboard"
    * incident, certified. Construction: the even half of events streams
    * from source A (full time range); the odd half streams from source
    * B but CUT at max(A ts) − 2 days, so B's watermark finishes two
    * days behind A's. The unioned 5-minute window counts run in append
    * mode; emitted windows must be exactly those whose end ≤ B's
    * watermark (min policy) — if the engine took the max (or A's),
    * the two-day tail would emit and the row-set hash goes red. The
    * contrast class is non-vacuous by an in-query guard: `n_held` (> 0,
    * thrown otherwise) counts the window groups A's solo watermark
    * would have flushed but the min policy held in state, pinned as an
    * oracle column. End-of-stream flush relies on no-data micro-batches
    * (the engine keeps ticking until the watermark stabilizes), same as
    * [[appendWindows]]. */
  def multiSourceWatermark(s: SparkSession, d: String): DataFrame = {
    val base = graft.operators.Shared.memoDir(s, d, "st_msw") { dir =>
      val raw = Tables.events(s, d).select("event_id", "ts", "event_type")
        .localCheckpoint(eager = true)
      val da = new java.io.File(dir, "a"); da.mkdirs()
      val db = new java.io.File(dir, "b"); db.mkdirs()
      val ev = raw.filter(col("event_id") % 2 === 0)
      val mA0 = ev.agg(max("ts").as("mta"))
      val slow = raw.filter(col("event_id") % 2 === 1)
        .crossJoin(broadcast(mA0))
        .filter(col("ts") <= col("mta") - expr("INTERVAL 2 DAYS"))
        .select("event_id", "ts", "event_type")
      val t0 = System.currentTimeMillis()
      scratchFile(ev, da, "0-a", t0 - 60000)
      scratchFile(slow, db, "0-b", t0 - 60000)
    }
    locally {
      val dirA = new java.io.File(base, "a")
      val dirB = new java.io.File(base, "b")
      // the batch contrast class reads the WRITTEN files back — exactly
      // the rows the stream consumed, no re-derivation
      val evens = s.read.parquet(s"$dirA/0-a.parquet")
      val slowOdds = s.read.parquet(s"$dirB/0-b.parquet")
      val mA = evens.agg(max("ts").as("mta"))
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("event_type", StringType)))
      def src(dir: java.io.File) = s.readStream.schema(sch)
        .parquet(dir.toString).withWatermark("ts", "10 minutes")
      val agg = src(dirA).unionByName(src(dirB))
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), fmt).as("window_start"),
          col("event_type"), col("n"))
      val name = "graft_st_msw"
      val drained = drain(s, d, agg, name, "append")
      // contrast class, from the batch data (pure function of the corpus):
      // groups above B's watermark but at-or-below A's — emitted iff the
      // engine ignored the lagging source
      val mB = slowOdds.agg(max("ts").as("mtb"))
      val held = evens.unionByName(slowOdds)
        .crossJoin(broadcast(mA)).crossJoin(broadcast(mB))
        .select(window(col("ts"), "5 minutes").as("w"), col("event_type"),
          expr("unix_micros(mta) div 1000").as("wma_ms"),
          expr("unix_micros(mtb) div 1000").as("wmb_ms"))
        .filter(expr("unix_micros(w.end) div 1000") > col("wmb_ms") - 600000 &&
          expr("unix_micros(w.end) div 1000") <= col("wma_ms") - 600000)
        .select("w", "event_type").distinct().count()
      if (held == 0)
        throw new IllegalStateException(
          "no window separates the two sources' watermarks — min-policy certificate is vacuous")
      drained.withColumn("n_held", lit(held))
        .orderBy("window_start", "event_type")
    }
  }

  /** Batch replay: B = odds at or below max(even ts) − 2 days; emission
    * boundary = B's watermark (the MIN), same integer-ms floors as
    * [[appendWindowsSql]]; n_held replays the contrast class. */
  val multiSourceWatermarkSql: String =
    """WITH a AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
      |  WHERE event_id % 2 = 0
      |), b AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
      |  WHERE event_id % 2 = 1
      |    AND CAST(ts AS TIMESTAMP) <= (SELECT max(ts) - INTERVAL 2 DAY FROM a)
      |), u AS (
      |  SELECT * FROM a UNION ALL SELECT * FROM b
      |), wm AS (
      |  SELECT (SELECT epoch_us(max(ts)) // 1000 - 600000 FROM a) AS wma_ms,
      |         (SELECT epoch_us(max(ts)) // 1000 - 600000 FROM b) AS wmb_ms
      |), w AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, event_type, count(*) AS n
      |  FROM u GROUP BY 1, 2
      |), held AS (
      |  SELECT count(*) AS n_held FROM w, wm
      |  WHERE epoch_us(wstart + INTERVAL '5 minutes') // 1000 > wmb_ms
      |    AND epoch_us(wstart + INTERVAL '5 minutes') // 1000 <= wma_ms
      |)
      |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, n, (SELECT n_held FROM held) AS n_held
      |FROM w, wm
      |WHERE epoch_us(wstart + INTERVAL '5 minutes') // 1000 <= wmb_ms
      |ORDER BY window_start, event_type""".stripMargin

  def lateData(s: SparkSession, d: String): DataFrame = {
    val dataDir = graft.operators.Shared.memoDir(s, d, "st_late") { dir =>
      val raw = Tables.events(s, d).select("event_id", "ts", "event_type")
        .localCheckpoint(eager = true)
      def writeBatch(df: DataFrame, name: String, mtime: Long): Unit =
        scratchFile(df, dir, name, mtime)
      // The tick row CARRIES max(even ts) as its event time, so batches
      // 0 and 1 advance the watermark to the SAME value and the batch-2
      // late filter is max(even ts) − 10 min no matter whether the
      // engine propagates watermarks one or two batches behind (r5's
      // measured N+2 lag is an engine internal; encoding it into the
      // oracle made a Spark upgrade able to silently flip this query —
      // ADVICE r5). The tick is still a real corpus row (the odd id
      // with max (ts, event_id)) so the oracle can name it; only its
      // timestamp is rewritten, on both sides identically.
      val tickId = raw.filter(col("event_id") % 2 === 1)
        .orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(col("event_id").as("tick_id"))
      val maxEven = raw.filter(col("event_id") % 2 === 0).agg(max("ts").as("mts"))
      val ev = raw.crossJoin(broadcast(tickId)).crossJoin(broadcast(maxEven))
        .select(col("event_id"),
          when(col("event_id") === col("tick_id"), col("mts")).otherwise(col("ts")).as("ts"),
          col("event_type"), col("tick_id"))
        .localCheckpoint(eager = true)
      val odd = ev.filter(col("event_id") % 2 === 1)
      // FileStreamSource orders by (mtime, path): force strictly older
      // mtimes so batch 0 = evens, batch 1 = tick, batch 2 = stragglers
      val t0 = System.currentTimeMillis()
      val cols = Seq("event_id", "ts", "event_type").map(col)
      writeBatch(ev.filter(col("event_id") % 2 === 0).select(cols: _*), "0-ontime", t0 - 120000)
      writeBatch(odd.filter(col("event_id") === col("tick_id")).select(cols: _*), "1-tick", t0 - 60000)
      writeBatch(odd.filter(col("event_id") =!= col("tick_id")).select(cols: _*),
        "2-late", t0)
    }
    locally {
      // the post-drain totals read the WRITTEN batches back (their union
      // IS the rewritten corpus) — no re-derivation
      val ev = s.read.parquet(dataDir.toString)
      val src = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
      val agg = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), fmt).as("window_start"),
          col("event_type"), col("n"))
      val name = "graft_st_late_data"
      val drained = drain(s, dataDir.toString, agg, name, "update")
      val kept = drained.groupBy("window_start", "event_type")
        .agg(max("n").as("n_kept")).localCheckpoint(eager = true)
      val total = ev.groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_total"))
        .select(date_format(col("window.start"), fmt).as("window_start"),
          col("event_type"), col("n_total"))
      total.join(kept, Seq("window_start", "event_type"), "left")
        .select(col("window_start"), col("event_type"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_late_dropped"))
        .orderBy("window_start", "event_type")
    }
  }

  /** SQL twin: the drop rule is a pure function of the even half's max
    * event time — kept = even rows, plus the tick row, plus stragglers
    * whose window end (ms) is strictly above `max(even ts) − 10 min`
    * (the [[appendWindowsSql]] boundary, flipped from emission to
    * admission). `ev2` mirrors the tick's timestamp rewrite, so both
    * sides account the tick in the max(even ts) window. */
  val lateDataSql: String =
    """WITH raw AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
      |), tick AS (
      |  SELECT event_id FROM raw WHERE event_id % 2 = 1
      |  ORDER BY ts DESC, event_id DESC LIMIT 1
      |), mts AS (
      |  SELECT max(ts) AS mts FROM raw WHERE event_id % 2 = 0
      |), ev AS (
      |  SELECT event_id,
      |    CASE WHEN event_id IN (SELECT event_id FROM tick)
      |         THEN (SELECT mts FROM mts) ELSE ts END AS ts,
      |    event_type
      |  FROM raw
      |), wm AS (
      |  SELECT (epoch_us(mts) // 1000) - 600000 AS wm_ms FROM mts
      |), w AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, event_type, event_id FROM ev
      |), tot AS (
      |  SELECT wstart, event_type, count(*) AS n_total FROM w GROUP BY 1, 2
      |), kept AS (
      |  SELECT wstart, event_type, count(*) AS n_kept
      |  FROM w, wm
      |  WHERE event_id % 2 = 0
      |     OR event_id IN (SELECT event_id FROM tick)
      |     OR epoch_us(wstart + INTERVAL '5 minutes') // 1000 > wm_ms
      |  GROUP BY 1, 2
      |)
      |SELECT strftime(t.wstart, '%Y-%m-%d %H:%M:%S') AS window_start, t.event_type,
      |  t.n_total, coalesce(k.n_kept, 0) AS n_kept,
      |  t.n_total - coalesce(k.n_kept, 0) AS n_late_dropped
      |FROM tot t LEFT JOIN kept k USING (wstart, event_type)
      |ORDER BY window_start, event_type""".stripMargin

  /** Per-user lifetime ledger state for [[twsLedger]] — exact integer
    * micros, so merge order across batches can't move a cent. */
  case class LedgerState(n: Long, totalMicros: Long, minTsUs: Long, maxTsUs: Long)
  case class LedgerIn(userId: Long, eventId: Long, tsUs: Long, valueMicros: Long)
  case class LedgerOut(user_id: Long, n_events: Long, total_us: Long,
    first_ts_us: Long, last_ts_us: Long)

  /** The Spark 4 `StatefulProcessor` behind [[twsLedger]]: one
    * ValueState[LedgerState] per user, merged with each batch's
    * order-free partial (count/sum/min/max), current snapshot emitted
    * per update. */
  class LedgerProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, LedgerIn, LedgerOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[LedgerState] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[LedgerState]("ledger",
        org.apache.spark.sql.Encoders.product[LedgerState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[LedgerIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[LedgerOut] = {
      var n = 0L; var tot = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
      rows.foreach { r =>
        n += 1; tot += r.valueMicros
        mn = math.min(mn, r.tsUs); mx = math.max(mx, r.tsUs)
      }
      if (n == 0) Iterator.empty
      else {
        val merged =
          if (st.exists()) {
            val p = st.get()
            LedgerState(p.n + n, p.totalMicros + tot,
              math.min(p.minTsUs, mn), math.max(p.maxTsUs, mx))
          } else LedgerState(n, tot, mn, mx)
        st.update(merged)
        Iterator.single(LedgerOut(key, merged.n, merged.totalMicros,
          merged.minTsUs, merged.maxTsUs))
      }
    }
  }

  /** The Spark 4 ARBITRARY-STATE API (`transformWithState` +
    * `StatefulProcessor` + typed `ValueState`, over the RocksDB state
    * store) — the successor to [[sessionizeStream]]'s
    * flatMapGroupsWithState, covered as its own surface because new
    * pipelines are steered to it: a per-user lifetime ledger (event
    * count, exact-micros value total, first/last event time) maintained
    * across two forced micro-batches, so the RocksDB state genuinely
    * persists and merges between batches. Every state component is an
    * order-free integer (counts, long sums, min/max), so batch
    * boundaries and within-batch iteration order can't change the
    * result — the final snapshot per user must equal the whole-table
    * batch aggregate, which is the oracle. */
  def twsLedger(s: SparkSession, d: String): DataFrame = {
    val dataDir = graft.operators.Shared.memoDir(s, d, "st_tws") { dir =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("value") * lit(1000000L)).cast("long").as("v_us"))
        .localCheckpoint(eager = true)
      val t0 = System.currentTimeMillis()
      scratchFile(ev.filter(col("event_id") % 2 === 0), dir, "0-first", t0 - 60000)
      scratchFile(ev.filter(col("event_id") % 2 === 1), dir, "1-second", t0)
    }
    locally {
      import s.implicits._
      val src = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("user_id", LongType), StructField("ts_us", LongType),
          StructField("v_us", LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
        .select(col("user_id").as("userId"), col("event_id").as("eventId"),
          col("ts_us").as("tsUs"), col("v_us").as("valueMicros"))
        .as[LedgerIn]
      val out = src.groupByKey(_.userId)
        .transformWithState(new LedgerProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[LedgerOut])
        .toDF()
      val name = "graft_st_tws_ledger"
      val drained = graft.operators.Shared.withConfs(s, rocksDbState) {
        drain(s, dataDir.toString, out, name, "update")
      }
      // update mode emits a snapshot per (user, batch); n_events is
      // monotone, so the max-n struct per user is the final state
      drained.groupBy("user_id")
        .agg(max(struct(col("n_events"), col("total_us"),
          col("first_ts_us"), col("last_ts_us"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          col("m.total_us").as("total_us"),
          date_format(timestamp_micros(col("m.first_ts_us")), fmt).as("first_ts"),
          date_format(timestamp_micros(col("m.last_ts_us")), fmt).as("last_ts"))
        .orderBy("user_id")
    }
  }

  /** Oracle: the whole-table per-user aggregate — state merged across
    * any batch split must equal it. */
  val twsLedgerSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS total_us,
      |  strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS first_ts,
      |  strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `dropDuplicatesWithinWatermark` — BOUNDED-STATE streaming dedup
    * (Spark 3.5+), and the exactness trade it makes, pinned instead of
    * papered over: [[dedupStream]]'s plain dropDuplicates keeps every
    * key forever (state grows with distinct keys — at 100 TB of
    * events, that is the state store that eventually dies), while the
    * WithinWatermark form expires a key once the watermark passes its
    * first-seen event time + delay, so state is bounded by the
    * watermark window… and a duplicate arriving AFTER its original's
    * state expired is RE-EMITTED. This harness constructs both sides
    * of that contract deterministically: batch 0 carries every event
    * plus same-timestamp copies of the `event_id % 50` keys (dropped —
    * within-window dedup works); batch 2 carries copies of OLD
    * `event_id % 70` keys (original ts < max − 30 min, safely beyond
    * the 10-min delay under either N+1 or N+2 watermark propagation)
    * re-stamped at max(ts) (not late, pure function of data) — their
    * state is expired, so they are counted TWICE in the output, which
    * the oracle replays analytically. Batch 1 is the tick (ts =
    * max(ts), value-neutral). A result where the old duplicates do
    * NOT reappear means state was not actually bounded. */
  def dedupWatermark(s: SparkSession, d: String): DataFrame = {
    val dataDir = graft.operators.Shared.memoDir(s, d, "st_ddw") { dir =>
      val ev = Tables.events(s, d).select("event_id", "ts", "event_type", "value")
        .localCheckpoint(eager = true)
      val mts = ev.agg(max("ts").as("mts"))
      val b0 = ev.unionAll(ev.filter(col("event_id") % 50 === 0))
      val tick = mts.select(lit(-1L).as("event_id"), col("mts").as("ts"),
        lit("tick").as("event_type"), lit(0.0).as("value"))
      val lateDups = ev.crossJoin(broadcast(mts))
        .filter(col("event_id") % 70 === 0 &&
          col("ts") < col("mts") - expr("INTERVAL 30 MINUTES"))
        .select(col("event_id"), col("mts").as("ts"), col("event_type"), col("value"))
      val t0 = System.currentTimeMillis()
      scratchFile(b0, dir, "0-data", t0 - 120000)
      scratchFile(tick, dir, "1-tick", t0 - 60000)
      scratchFile(lateDups, dir, "2-olddups", t0)
    }
    locally {
      val stream = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .filter(col("event_id") >= 0) // ticks out
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      val name = "graft_st_dedup_wm"
      val drained = drain(s, dataDir.toString, stream, name, "complete")
      drained.orderBy("event_type").localCheckpoint()
    }
  }

  /** Oracle: every distinct event once, plus one EXTRA count for each
    * old-enough re-duplicated key — the bounded-state re-emission,
    * replayed analytically. */
  val dedupWatermarkSql: String =
    """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events)
      |SELECT event_type,
      |  CAST(count(*) + sum(CASE WHEN event_id % 70 = 0
      |      AND CAST(ts AS TIMESTAMP) < (SELECT m FROM mx) - INTERVAL 30 MINUTE
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CHAINED STATEFUL OPERATORS — two stateful operators in ONE
    * streaming query (stream-stream interval join → tumbling-window
    * aggregation on the join OUTPUT), the Spark 3.4+/4 capability that
    * killed the old two-job-with-intermediate-sink workaround: before
    * it, "aggregate the attribution join" meant materializing the join
    * to Kafka/files and running a second cluster of state stores; now
    * the watermark PROPAGATES THROUGH the join and drives the
    * downstream window eviction in the same micro-batch pipeline. The
    * harness proves the chain is real twice over: the executed
    * query's progress must report ≥2 distinct stateful operators
    * (vacuity throws — `two_stateful_ops` is an oracle-pinned TRUE),
    * and the append-mode output itself (final flushed windows over
    * join results) equals the batch join + window aggregate, which
    * only happens if the propagated watermark correctly flushed every
    * window. Tick discipline as in [[streamStreamOuter]]: one
    * unmatchable row per side at max(ts) + 1 h (data-derived) pushes
    * both input watermarks past every real window. */
  def chainedStateful(s: SparkSession, d: String): DataFrame = {
    val dataDir = clickPurchaseDir(s, d) // same layout as streamStreamOuter
    locally {
      val src = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("user_id", LongType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      val agg = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        .groupBy(window(col("purchase_ts"), "5 minutes"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"))
        .select(date_format(col("window.start"), fmt).as("window_start"),
          col("n_pairs"), col("min_user"), col("max_user"))
      val name = "graft_st_chained"
      s.streams.active.find(_.name == name).foreach(_.stop())
      withStreamShuffle(s, dataDir.toString) {
        val q = agg.writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .start()
        try {
          q.processAllAvailable()
          val stateful = q.recentProgress
            .flatMap(_.stateOperators.map(_.operatorName)).distinct
          if (stateful.length < 2)
            throw new IllegalStateException(
              s"expected >=2 chained stateful operators, saw ${stateful.mkString(",")}")
        } finally q.stop()
      }
      s.table(name)
        .withColumn("two_stateful_ops", lit(true))
        .orderBy("window_start")
        .localCheckpoint()
    }
  }

  /** Oracle: the batch join + window aggregate — what the chained
    * streaming pipeline must flush, in total, once watermarks pass. */
  val chainedStatefulSql: String =
    """WITH j AS (
      |  SELECT p.user_id, CAST(p.ts AS TIMESTAMP) AS pts
      |  FROM events c JOIN events p
      |    ON c.event_type = 'click' AND p.event_type = 'purchase'
      |   AND p.user_id = c.user_id
      |   AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |   AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
      |)
      |SELECT strftime(time_bucket(INTERVAL '5 minutes', pts), '%Y-%m-%d %H:%M:%S')
      |    AS window_start,
      |  count(*) AS n_pairs,
      |  CAST(min(user_id) AS BIGINT) AS min_user,
      |  CAST(max(user_id) AS BIGINT) AS max_user,
      |  TRUE AS two_stateful_ops
      |FROM j GROUP BY window_start ORDER BY window_start""".stripMargin

  /** `Trigger.AvailableNow` — the INCREMENTAL-BATCH runner, and the
    * trigger every other query here does NOT use (they drain under the
    * default micro-batch trigger and are stopped from outside): the
    * query takes a snapshot of what the source has AT START, processes
    * it honoring the source's rate limits across as many micro-batches
    * as the limits dictate, then terminates ON ITS OWN. At 100 TB this
    * is the nightly/cron shape — no always-on cluster, each run drains
    * the new files in bounded-size batches (bounded state, bounded
    * executor memory) and the checkpoint makes the next run
    * incremental. Both halves of the contract are certificates, not
    * claims: the harness never calls stop() — `awaitTermination` must
    * return on its own (self-termination, or the query throws) — and
    * the 3-file source under `maxFilesPerTrigger=1` must report ≥3
    * data micro-batches (rate limits HONORED across batches — the
    * difference from the old Trigger.Once, which slurped everything
    * into one unbounded batch). The business result (per-type counts +
    * exact-micros totals in complete mode) must equal the batch
    * aggregate — the oracle. */
  def availableNow(s: SparkSession, d: String): DataFrame = {
    val dataDir = graft.operators.Shared.memoDir(s, d, "st_avail") { dir =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          round(col("value") * lit(1000000L)).cast("long").as("v_us"))
        .localCheckpoint(eager = true)
      val t0 = System.currentTimeMillis()
      scratchFile(ev.filter(col("event_id") % 3 === 0), dir, "0-a", t0 - 120000)
      scratchFile(ev.filter(col("event_id") % 3 === 1), dir, "1-b", t0 - 60000)
      scratchFile(ev.filter(col("event_id") % 3 === 2), dir, "2-c", t0)
    }
    locally {
      val agg = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("event_type", StringType), StructField("v_us", LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("v_us")).as("total_us"))
      val name = "graft_st_available_now"
      s.streams.active.find(_.name == name).foreach(_.stop())
      withStreamShuffle(s, dataDir.toString) {
        val q = agg.writeStream
          .outputMode("complete")
          .format("memory")
          .queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // the harness never stops the query — AvailableNow must end it
        val terminated = q.awaitTermination(120000)
        if (!terminated) {
          q.stop()
          throw new IllegalStateException(
            "Trigger.AvailableNow did not self-terminate — certificate is vacuous")
        }
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        if (dataBatches < 3)
          throw new IllegalStateException(
            s"maxFilesPerTrigger=1 over 3 files must yield >=3 data batches, saw $dataBatches")
      }
      s.table(name)
        .withColumn("self_terminated", lit(true))
        .withColumn("rate_limited_batches", lit(true))
        .orderBy("event_type")
        .localCheckpoint()
    }
  }

  /** Oracle: the batch aggregate — an AvailableNow drain over any batch
    * split must equal it; the two certificate flags are pinned TRUE. */
  val availableNowSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS total_us,
      |  TRUE AS self_terminated, TRUE AS rate_limited_batches
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  case class TimerIn(userId: Long, tsUs: Long, eventTime: java.sql.Timestamp)
  case class TimerSess(n: Long, lastTsUs: Long)
  case class TimerOut(user_id: Long, n_events: Long, closed_us: Long)

  /** The EVENT-TIME TIMER processor behind [[twsTimers]]: per-user
    * session state plus a timer at last-event + 30 min; when the
    * WATERMARK passes the timer, [[handleExpiredTimer]] emits the
    * closed session and clears state. Superseded timers (an earlier
    * batch's registration made stale by later events) are recognized
    * by expiry ≠ the state's current deadline and ignored — cheaper
    * than deleteTimer bookkeeping and immune to duplicate
    * registration. */
  class SessionTimerProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, TimerIn, TimerOut] {
    private val GapUs = 30L * 60 * 1000000
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TimerSess] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TimerSess]("sess",
        org.apache.spark.sql.Encoders.product[TimerSess],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TimerIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TimerOut] = {
      var n = 0L; var mx = Long.MinValue
      rows.foreach { r => n += 1; mx = math.max(mx, r.tsUs) }
      if (n > 0) {
        val prev = if (st.exists()) Some(st.get()) else None
        val merged = prev match {
          case Some(p) => TimerSess(p.n + n, math.max(p.lastTsUs, mx))
          case None    => TimerSess(n, mx)
        }
        st.update(merged)
        // (re-)arm only when the deadline moved — registering the same
        // expiry twice is the only duplicate case possible here
        if (!prev.exists(_.lastTsUs == merged.lastTsUs))
          getHandle.registerTimer((merged.lastTsUs + GapUs) / 1000)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[TimerOut] = {
      if (!st.exists()) return Iterator.empty
      val cur = st.get()
      if (info.getExpiryTimeInMs() == (cur.lastTsUs + GapUs) / 1000) {
        st.clear()
        Iterator.single(TimerOut(key, cur.n, cur.lastTsUs + GapUs))
      } else Iterator.empty
    }
  }

  /** EVENT-TIME TIMERS — the session-TIMEOUT pattern ([[sessionize]]
    * closes sessions when the NEXT event arrives; real systems must
    * also close the LAST session of a user who never comes back, and a
    * timer firing on watermark advance is the only way): per-user
    * state arms a timer at last-event + 30 min; when the watermark
    * passes it, the closed session is emitted from the timer callback
    * — rows the input never contained, the one output path no other
    * st_* query exercises. Three data-derived tick batches (ts =
    * max(data ts) + 41 min, the st_late_data discipline — a pure
    * function of the data, immune to propagation-lag changes) advance
    * the watermark far enough that every data timer provably fires
    * before the query stops. Oracle: per user, count + last-event +
    * 30 min — the timer payload must equal the batch answer. */
  def twsTimers(s: SparkSession, d: String): DataFrame = {
    val dataDir = graft.operators.Shared.memoDir(s, d, "st_twstimer") { dir =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("ts").as("event_time"))
        .localCheckpoint(eager = true)
      val maxUs = ev.agg(max("ts_us")).collect()(0).getLong(0)
      val tickUs = maxUs + 41L * 60 * 1000000
      val session = s
      import session.implicits._
      val tick = Seq((-1L, -1L, tickUs)).toDF("event_id", "user_id", "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          timestamp_micros(col("ts_us")).as("event_time"))
      val t0 = System.currentTimeMillis()
      scratchFile(ev.filter(col("event_id") % 2 === 0), dir, "0-first", t0 - 240000)
      scratchFile(ev.filter(col("event_id") % 2 === 1), dir, "1-second", t0 - 180000)
      scratchFile(tick, dir, "2-tick", t0 - 120000)
      scratchFile(tick, dir, "3-tick", t0 - 60000)
      scratchFile(tick, dir, "4-tick", t0)
    }
    locally {
      val session = s
      import session.implicits._
      val src = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("user_id", LongType), StructField("ts_us", LongType),
          StructField("event_time", TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(dataDir.toString)
        .withWatermark("event_time", "10 minutes")
        .select(col("user_id").as("userId"), col("ts_us").as("tsUs"),
          col("event_time").as("eventTime"))
        .as[TimerIn]
      val out = src.groupByKey(_.userId)
        .transformWithState(new SessionTimerProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[TimerOut])
        .toDF()
      val name = "graft_st_tws_timers"
      val drained = graft.operators.Shared.withConfs(s, rocksDbState) {
        drain(s, dataDir.toString, out, name, "append")
      }
      drained.filter(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"),
          date_format(timestamp_micros(col("closed_us")), fmt).as("closed_at"))
        .orderBy("user_id")
    }
  }

  /** Oracle: the timer payload per user must equal the batch answer —
    * event count and last event + 30 min. */
  val twsTimersSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  strftime(max(CAST(ts AS TIMESTAMP)) + INTERVAL 30 MINUTE,
      |    '%Y-%m-%d %H:%M:%S') AS closed_at
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `foreachBatch` MERGE-upsert — the streaming-CDC apply pattern (and
    * the one streaming API surface the other 16 st_* queries don't
    * touch): each micro-batch reduces to one latest-row-per-user
    * candidate set, then merges into a persistent parquet STATE TABLE
    * via full-outer join + greatest-(ts, event_id) pick — exactly what
    * Delta/Iceberg `MERGE INTO` lowers to, hand-held here because a
    * plain parquet dir has no transaction log. The stream is split
    * into two deterministic micro-batches (id parity, pinned mtimes)
    * to force at least one REAL merge of new batches into non-empty
    * state; upsert is associative, so the final table provably equals
    * the batch argmax over all events — the oracle computes that
    * directly. The overwrite is staged through `localCheckpoint`
    * (read-your-own-overwrite is the classic self-clobber; the
    * checkpoint materializes the merge before the dir is replaced).
    * Scale shape: state is one row per entity, each batch shuffles its
    * own keys + the state table once — the compact-state alternative
    * to replaying history. */
  def foreachUpsert(s: SparkSession, d: String): DataFrame = {
    // input batches memoized; the STATE table is per-run mutable state
    // and stays in a fresh scratch dir every time
    val dataDir = graft.operators.Shared.memoDir(s, d, "st_upsert") { dir =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .localCheckpoint(eager = true)
      val t0 = System.currentTimeMillis()
      scratchFile(ev.filter(col("event_id") % 2 === 0), dir, "0-first", t0 - 60000)
      scratchFile(ev.filter(col("event_id") % 2 === 1), dir, "1-second", t0)
    }
    graft.Scratch.withDir("graft_st_upsert_") { scratch =>
      val stateDir = s"$scratch/state"
      def latest(df: DataFrame): DataFrame =
        df.groupBy("user_id")
          .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"))).as("m"))
          .select(col("user_id"), col("m.ts_us").as("ts_us"),
            col("m.event_id").as("event_id"), col("m.event_type").as("event_type"))
      val q = withStreamShuffle(s, dataDir.toString) {
        s.readStream
          .schema(StructType(Seq(StructField("event_id", LongType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("ts_us", LongType))))
          .option("maxFilesPerTrigger", "1")
          .parquet(dataDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val cand = latest(batch)
            val merged =
              if (new java.io.File(stateDir).exists()) {
                val state = s.read.parquet(stateDir)
                // union + argmax IS the merge: greatest (ts, id) per key
                latest(state.unionByName(cand))
              } else cand
            merged.localCheckpoint(eager = true)
              .write.mode("overwrite").parquet(stateDir)
            ()
          }
          .start()
      }
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(stateDir)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          date_format(timestamp_micros(col("ts_us")), fmt).as("last_ts"))
        .orderBy("user_id")
        .localCheckpoint(eager = true)
    }
  }

  /** Oracle: the batch argmax — upsert associativity means the merged
    * state must equal it for ANY batch split. */
  val foreachUpsertSql: String =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
      |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1 ORDER BY user_id""".stripMargin

  def sinkRoundtrip(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_st_sink_") { out =>
      graft.Scratch.withDir("graft_st_ckpt_") { ckpt =>
        val q = withStreamShuffle(s, d) {
          eventStream(s, d)
            .filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("value"))
            .writeStream
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        }
        try q.processAllAvailable()
        finally q.stop()
        // eager = true is LOAD-BEARING, not a default we happen to rely
        // on: withDir deletes the files the frame was read from when
        // this block returns, so every block must be materialized first
        // (and a lost block afterward is unrecoverable — the price of
        // eagerly deleting scratch; the aggregate is tiny)
        val back = s.read.parquet(out).localCheckpoint(eager = true)
        back.groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases"),
            countDistinct("event_id").as("n_distinct_events"),
            moneySum(col("value")).as("total_value"))
          .orderBy("user_id")
      }
    }
  }

  /** Batch oracle: if the sink lost or duplicated anything,
    * n_purchases ≠ n_distinct_events or a sum flips. */
  val sinkRoundtripSql: String =
    s"""SELECT user_id, count(*) AS n_purchases,
       | count(DISTINCT event_id) AS n_distinct_events,
       | ${moneySumSql("value")} AS total_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** CHECKPOINT-RECOVERY behind the gate — the exactly-once story
    * streaming actually sells, exercised end to end: a file-sink query
    * processes the first half of events, is STOPPED (a simulated
    * executor/driver loss: the query object is discarded), a NEW query
    * is started from the SAME checkpoint after the second half lands,
    * and the sink's final contents must equal the batch aggregate over
    * everything. Recovery correctness is two-sided and this pins both:
    * the restarted source must not REPLAY half 1 (the checkpoint's
    * file-offset log — replay would double every count and flip the
    * oracle hash) and must not SKIP half 2; the parquet sink's
    * `_spark_metadata` commit manifest is what makes the re-read see
    * exactly the committed files. All events pass through (no filter)
    * so the certificate covers the whole table. The aggregation
    * happens AFTER the re-read, batch-side — the stream is a pure
    * pass-through sink, the recovery is what's under test. */
  def restartRecovery(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_st_restart_") { scratch =>
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .localCheckpoint(eager = true)
      val dataDir = new java.io.File(scratch, "data"); dataDir.mkdirs()
      val out = s"$scratch/sink"; val ckpt = s"$scratch/ckpt"
      def runOnce(): Unit = withStreamShuffle(s, dataDir.toString) {
        val q = s.readStream
          .schema(StructType(Seq(StructField("event_id", LongType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType))))
          .parquet(dataDir.toString)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      val t0 = System.currentTimeMillis()
      scratchFile(ev.filter(col("event_id") % 2 === 0), dataDir, "0-first", t0 - 60000)
      runOnce()                 // run 1: half 1 committed, then the query dies
      scratchFile(ev.filter(col("event_id") % 2 === 1), dataDir, "1-second", t0)
      runOnce()                 // run 2: fresh query, same checkpoint
      val back = s.read.parquet(out).localCheckpoint(eager = true)
      back.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("event_id").as("n_distinct_events"),
          moneySum(col("value")).as("total_value"))
        .orderBy("event_type")
    }
  }

  /** Oracle: the whole table's per-type aggregate — any replayed or
    * skipped half flips a count, a distinct count, or a micros sum. */
  val restartRecoverySql: String =
    s"""SELECT event_type, count(*) AS n_events,
       | count(DISTINCT event_id) AS n_distinct_events,
       | ${moneySumSql("value")} AS total_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_sink_roundtrip" -> (sinkRoundtrip _),
    "st_restart_recovery" -> (restartRecovery _),
    "st_late_data" -> (lateData _),
    "st_session_window" -> (sessionWindowAgg _),
    "st_foreach_upsert" -> (foreachUpsert _),
    "st_tws_ledger" -> (twsLedger _),
    "st_available_now" -> (availableNow _),
    "st_chained_stateful" -> (chainedStateful _),
    "st_dedup_watermark" -> (dedupWatermark _),
    "st_tws_timers" -> (twsTimers _),
    "st_running_totals" -> (runningTotals _),
    "st_anomaly" -> (anomalyStream _),
    "st_sliding" -> (slidingAgg _),
    "st_topk" -> (topkStream _),
    "st_enrich" -> (enrich _),
    "st_window_agg" -> (windowAgg _),
    "st_append_windows" -> (appendWindows _),
    "st_multi_source_watermark" -> (multiSourceWatermark _),
    "st_sessionize" -> (sessionize _),
    "st_sessionize_stream" -> (sessionizeStreamClosed _),
    "st_sessionize_final" -> (sessionizeStreamFinal _),
    "st_stream_join" -> (streamJoin _),
    "st_stream_stream_outer" -> (streamStreamOuter _),
    "st_throttle" -> (throttle _),
    "st_dedup" -> (dedupStream _))

  val oracles: Map[String, String] = Map(
    "st_sink_roundtrip" -> sinkRoundtripSql,
    "st_restart_recovery" -> restartRecoverySql,
    "st_late_data" -> lateDataSql,
    "st_session_window" -> sessionWindowAggSql,
    "st_foreach_upsert" -> foreachUpsertSql,
    "st_tws_ledger" -> twsLedgerSql,
    "st_available_now" -> availableNowSql,
    "st_chained_stateful" -> chainedStatefulSql,
    "st_dedup_watermark" -> dedupWatermarkSql,
    "st_tws_timers" -> twsTimersSql,
    "st_running_totals" -> runningTotalsSql,
    "st_anomaly" -> anomalyStreamSql,
    "st_sliding" -> slidingAggSql,
    "st_topk" -> topkStreamSql,
    "st_enrich" -> enrichSql,
    "st_window_agg" -> windowAggSql,
    "st_append_windows" -> appendWindowsSql,
    "st_multi_source_watermark" -> multiSourceWatermarkSql,
    "st_sessionize" -> sessionizeSql,
    "st_sessionize_stream" -> sessionizeStreamClosedSql,
    "st_sessionize_final" -> sessionizeStreamFinalSql,
    "st_stream_join" -> streamJoinSql,
    "st_stream_stream_outer" -> streamStreamOuterSql,
    "st_throttle" -> throttleSql,
    "st_dedup" -> dedupStreamSql)
}
