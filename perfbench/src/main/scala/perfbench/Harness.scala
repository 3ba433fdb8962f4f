package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode, split}

import graft.{SparkEntry, Tables}
import graft.functions.Djb2
import graft.mapreduce.MapReduce

/** Closed-loop driver for one benchmark run: one client, one query at a
  * time, each timed to its complete collected result.
  *
  * Phases:
  *  1. set-up, timed once, cold: building the SparkSession, a warm-up of
  *     the listing and footers of every table the workload reads, and one
  *     untimed warm-up pass in its own session. That pass fixes the run's
  *     reference fingerprint of every query;
  *  2. one untimed settling pass, so timing starts after the JIT has
  *     compiled the query paths once more;
  *  3. `--passes` timed passes, each in a fresh `newSession()` with the
  *     query order shuffled from the seed. With `--trace 1` passes
  *     alternate untraced / traced (ABBA), so the run also measures the
  *     tracing overhead.
  *
  * Raw samples go to `<out>/harness.json` (and spans to `<out>/spans.json`);
  * `run.py` turns them into metrics. Queries are reached only through
  * graft's public surface: `SparkEntry.queries`, `MapReduce`, `Djb2` and
  * `Tables`.
  */
object Harness {
  /** The facade word counts of the `mr_zipf` workload: MapReduce.run with
    * no combiner into 10 djb2-partitioned text files, and runCombined. */
  val facadeRun = "mr_facade_run"
  val facadeCombined = "mr_facade_combined"
  val sinkParts = 10

  final case class Outcome(name: String, ms: Double, fp: Option[Fingerprint], error: Option[String],
    startUs: Long, endUs: Long)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val data = o("data")
    val out = new File(o("out"))
    val seed = o("seed").toLong
    val nPasses = o("passes").toInt
    val trace = o("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val queries = o("queries").split(",").toSeq
    out.mkdirs()

    val unknown = queries.filterNot(q => q == facadeRun || q == facadeCombined || SparkEntry.queries.contains(q))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val meter = new Meter
    val failures = mutable.ArrayBuffer.empty[String]
    val refs = mutable.LinkedHashMap.empty[String, Fingerprint]
    val counts = mutable.LinkedHashMap.empty[String, Int]  // executions per query
    var attempted = 0
    def fail(msg: String): Unit = { failures += msg; System.err.println("[perfbench] " + msg) }

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val compBean = ManagementFactory.getCompilationMXBean
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    def jitMs(): Long = compBean.getTotalCompilationTime

    // ---- memo accounting: entries under graft's scratch memo roots ----
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def memoEntries(): Map[String, Long] =
      Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.startsWith("graft-shared-"))
        .flatMap(r => Option(r.listFiles()).getOrElse(Array.empty[File]))
        .map(f => f.getAbsolutePath -> FileUtils.sizeOf(f)).toMap

    // ---- one query execution ----
    def lines(s: SparkSession) = Tables.documents(s, data).select("text").rdd.map(_.getString(0))
    val sinkDir = new File(out, "sink")

    def execute(s: SparkSession, name: String, qid: Long, parent: Long): Outcome = {
      def span[T](label: String)(body: => T): T = {
        val t = meter.nowUs()
        try body finally meter.record(parent, qid, label, t, meter.nowUs())
      }
      if (name == facadeRun) FileUtils.deleteQuietly(sinkDir)
      val u0 = meter.nowUs()
      val t0 = System.nanoTime()
      var u1 = u0
      // the timed section ends when the complete result is in hand;
      // fingerprinting it is checking, not query time
      def stop(): Double = { u1 = meter.nowUs(); (System.nanoTime() - t0) / 1e6 }
      try {
        val (ms, fp) = name match {
          case `facadeRun` =>
            span("mapreduce.run") {
              MapReduce.run[String, String, Int, String](lines(s), tokens, (k, vs) => s"$k: ${vs.sum}", sinkParts)
                .saveAsTextFile(sinkDir.getAbsolutePath)
            }
            (stop(), readSink(sinkDir))
          case `facadeCombined` =>
            val pairs = span("mapreduce.run_combined") {
              MapReduce.runCombined[String, String, Int](lines(s), tokens, _ + _, sinkParts).collect()
            }
            (stop(), Fingerprint.ofValues(Seq("token", "cnt"), pairs.iterator.map { case (k, v) => Seq(k, v.toLong) }))
          case q =>
            val df = span("operators.build")(SparkEntry.queries(q)(s, data))
            val rows: Array[Row] = span("result.collect")(df.collect())
            (stop(), Fingerprint.ofRows(df.schema.fieldNames.toSeq, rows))
        }
        Outcome(name, ms, Some(fp), None, u0, u1)
      } catch {
        case e: Throwable =>
          Outcome(name, stop(), None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), u0, u1)
      }
    }

    def reset(s: SparkSession): Unit = {
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      s.catalog.listTables().collect().filter(_.isTemporary).foreach(t => s.catalog.dropTempView(t.name))
    }

    /** Checks an execution against the run's reference fingerprint (the
      * first execution of the query sets it). */
    def check(o: Outcome, phase: String): Boolean = {
      attempted += 1
      counts(o.name) = counts.getOrElse(o.name, 0) + 1
      (o.error, o.fp) match {
        case (Some(err), _) => fail(s"${o.name} ($phase): threw $err"); false
        case (_, Some(fp)) =>
          refs.get(o.name) match {
            case None => refs(o.name) = fp; true
            case Some(ref) if ref == fp => true
            case Some(ref) => fail(s"${o.name} ($phase): fingerprint $fp != reference $ref"); false
          }
        case _ => fail(s"${o.name} ($phase): no result"); false
      }
    }

    var qids = 0L
    final case class Pass(ms: Double, traced: Boolean, samples: Seq[(String, Double)], memoBuilds: Int,
      memoBytes: Long, layers: Map[String, Double])

    /** One pass over every query in the seeded order, in a fresh session. */
    def runPass(s: SparkSession, order: Seq[String], phase: String, traced: Boolean): Pass = {
      // a session's user makes it the thread's active one; code that reads
      // SQLConf.get outside a query (plan statistics, for one) sees its conf
      SparkSession.setActiveSession(s)
      if (traced) {
        s.listenerManager.register(meter.queryListener)
        s.streams.addListener(meter.streamListener)
      }
      org.apache.spark.perfbench.BusFlush(s.sparkContext)
      meter.enabled = traced
      meter.takeStreamingState()
      val before = meter.snapshot()
      val memo0 = memoEntries()
      val gc0 = gcMs(); val jit0 = jitMs()
      val samples = mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      order.foreach { q =>
        qids += 1
        val rootId = meter.newId()
        // shuffle records the facade writes: every emitted pair without a
        // combiner, one per (map task, key) with one
        val pairs = Map(facadeRun -> "mapreduce.emitted_pairs", facadeCombined -> "mapreduce.combined_pairs").get(q)
        def written(): Long = {
          org.apache.spark.perfbench.BusFlush(s.sparkContext)
          meter.snapshot().getOrElse("shuffle.write_records", 0L)
        }
        val w0 = if (traced && pairs.nonEmpty) written() else 0L
        val res = execute(s, q, qids, rootId)
        if (traced) pairs.foreach(k => meter.add(k, written() - w0))
        if (traced) meter.spans.add(Span(rootId, -1, qids, "query", res.startUs, res.endUs))
        reset(s)
        if (check(res, phase)) samples += q -> res.ms
      }
      val ms = (System.nanoTime() - t0) / 1e6
      org.apache.spark.perfbench.BusFlush(s.sparkContext)
      val after = meter.snapshot()
      val (stateRows, stateBytes) = meter.takeStreamingState()
      meter.enabled = false
      val memo1 = memoEntries()
      val built = memo1.keySet -- memo0.keySet
      val layers: Map[String, Double] =
        if (!traced) Map.empty
        else (after.keySet ++ before.keySet).toSeq.map(k =>
          k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble).toMap ++ Map(
          "streaming.state_rows" -> stateRows.toDouble,
          "streaming.state_mem_bytes" -> stateBytes.toDouble,
          "jvm.gc_ms" -> (gcMs() - gc0).toDouble,
          "jvm.jit_ms" -> (jitMs() - jit0).toDouble)
      Pass(ms, traced, samples.toSeq, built.size, built.toSeq.map(memo1).sum, layers)
    }

    // one generator for every pass's order, drawn in pass order: Randoms
    // seeded with nearby values return correlated first shuffles
    val orders = new scala.util.Random(seed)
    def shuffled(): Seq[String] = orders.shuffle(queries)

    // ---- 1. set-up: cold, once per JVM ----
    val jitSetup0 = jitMs()
    val t0 = System.nanoTime()
    val base = builder.getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    base.sparkContext.addSparkListener(meter)
    val t1 = System.nanoTime()
    // file listing and footer reads; the warm-up pass does the scans
    o("tables").split(",").foreach { t =>
      val df = if (t == "events") Tables.events(base, data) else Tables.load(base, data, t)
      df.schema; df.inputFiles
    }
    val t2 = System.nanoTime()
    val setupPass = runPass(base.newSession(), shuffled(), "setup", traced = false)
    val t3 = System.nanoTime()
    val setup = Map("session_ms" -> (t1 - t0) / 1e6, "tables_ms" -> (t2 - t1) / 1e6,
      "pass_ms" -> (t3 - t2) / 1e6, "total_ms" -> (t3 - t0) / 1e6, "jit_ms" -> (jitMs() - jitSetup0).toDouble)

    // the facade must agree with the declarative word count
    for (f <- Seq(facadeRun, facadeCombined); fq <- refs.get(f); wc <- refs.get("mr_wordcount"))
      if (fq.rowPart != wc.rowPart) fail(s"$f: word counts ${fq.rowPart} != mr_wordcount ${wc.rowPart}")

    // ---- 2. settling pass ----
    val settlePass = runPass(base.newSession(), shuffled(), "settle", traced = false)

    // ---- 3. timed passes ----
    val passes = (0 until nPasses).map { i =>
      // untraced, traced, traced, untraced, ...: both kinds see the same
      // mean position in the run, so JIT warm-up does not bias the overhead
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      runPass(base.newSession(), shuffled(), s"pass $i", traced)
    }

    val all = Seq(setupPass, settlePass) ++ passes
    if (all.map(_.memoBuilds).distinct.size > 1)
      fail(s"shared.memo_builds differs between passes: ${all.map(_.memoBuilds).mkString(",")}")

    // djb2 partitioner cost over the workload's vocabulary (traced runs)
    val djb2NsPerKey: Double = if (!trace) 0.0 else {
      val vocab = Tables.documents(base.newSession(), data)
        .select(explode(split(col("text"), "[ \t\n\r]+")).as("t")).filter(col("t") =!= "")
        .distinct().collect().map(_.getString(0).getBytes(UTF_8))
      var n = 0L; var sink = 0L // consumed below so the JIT keeps the loop
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200L * 1000 * 1000) {
        vocab.foreach(k => sink += Djb2.partition(k, sinkParts)); n += vocab.length
      }
      val ns = (System.nanoTime() - t0).toDouble / n
      if (sink < 0) println(sink)
      ns
    }

    // ---- artifact ----
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1e6
    val rt = Runtime.getRuntime
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    def statusKb(k: String): Long =
      status.linesIterator.find(_.startsWith(k + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val sparkConf = (base.sparkContext.getConf.getAll.toSeq ++ base.conf.getAll.toSeq).toMap

    def passJson(p: Pass): Map[String, Any] = Map(
      "ms" -> p.ms, "traced" -> p.traced, "memo_builds" -> p.memoBuilds, "memo_bytes" -> p.memoBytes,
      "samples" -> p.samples.map { case (q, ms) => Seq(q, ms) }, "layers" -> p.layers)

    val artifact = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "queries" -> queries,
      "setup" -> setup,
      "setup_passes" -> Seq(setupPass, settlePass).map(passJson),
      "passes" -> passes.map(passJson),
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "executions" -> counts.toMap,
      "fingerprints" -> refs.map { case (k, f) => k -> Map("columns" -> f.columns, "rows" -> f.rowPart) }.toMap,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "djb2_ns_per_key" -> djb2NsPerKey,
      "jvm" -> Map(
        "vm_hwm_kb" -> statusKb("VmHWM"), "heap_max_mb" -> rt.maxMemory / (1 << 20),
        "gc" -> gcBeans.map(_.getName).mkString("+"), "gc_ms_total" -> gcMs(), "jit_ms_total" -> jitMs(),
        "codecache_mb" -> codeCacheMb, "processors" -> rt.availableProcessors,
        "java_version" -> System.getProperty("java.version"), "spark_version" -> base.version),
      "spark_conf" -> sparkConf)
    Files.writeString(new File(out, "harness.json").toPath, json(artifact))
    if (trace) {
      val spans = meter.spans.asScala.toSeq.sortBy(_.startUs).map(sp =>
        Seq(sp.id, sp.parent, sp.qid, sp.name, sp.startUs, sp.endUs))
      Files.writeString(new File(out, "spans.json").toPath, json(spans))
    }
    base.stop()
  }

  def json(v: Any): String = org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  /** distwc.c tokenization: split on space/tab/newline/CR (MapReduce
    * drops the empty keys, as MR_Emit does). */
  val tokens: String => Iterator[(String, Int)] =
    (t: String) => t.split("[ \t\n\r]+").iterator.map(_ -> 1)

  /** The benchmark's own djb2 (`h = h*33 + c` over the bytes up to the
    * first NUL, 64-bit wraparound, unsigned modulo), independent of the
    * program's, to check where the sink put each key. */
  def djb2Partition(key: String, n: Int): Int = {
    var h = 5381L
    val bytes = key.getBytes(UTF_8)
    var i = 0
    while (i < bytes.length && bytes(i) != 0) { h = h * 33 + bytes(i); i += 1 }
    java.lang.Long.remainderUnsigned(h, n.toLong).toInt
  }

  /** Reads the sink's `key: count` files, checks that every key sits in
    * part `djb2(key) % 10`, and fingerprints the (token, cnt) rows. */
  def readSink(dir: File): Fingerprint = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.startsWith("part-"))
    require(parts.length == sinkParts, s"sink holds ${parts.length} part files, expected $sinkParts")
    val rows = parts.iterator.flatMap { f =>
      val part = f.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      Files.readAllLines(f.toPath, UTF_8).asScala.iterator.map { line =>
        val at = line.lastIndexOf(": ")
        val key = line.substring(0, at)
        require(djb2Partition(key, sinkParts) == part, s"key '$key' in part $part, djb2 says ${djb2Partition(key, sinkParts)}")
        Seq[Any](key, line.substring(at + 2).toLong)
      }
    }
    Fingerprint.ofValues(Seq("token", "cnt"), rows)
  }
}
