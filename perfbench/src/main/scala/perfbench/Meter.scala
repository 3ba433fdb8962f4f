package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds. Spans the harness
  * opens carry their query id and parent; spans built from listener
  * events carry neither (`qid = parent = -1`) and are attached to the
  * innermost harness span containing them when the trace is analysed. */
final case class Span(id: Long, parent: Long, qid: Long, name: String, startUs: Long, endUs: Long)

/** The traced run's recorder: harness spans plus the benchmark's own
  * SparkListener, QueryExecutionListener and StreamingQueryListener.
  * Nothing is recorded while `enabled` is false, so untraced passes pay
  * only the listener-bus dispatch. Spans stay in memory until the run
  * writes them out. */
final class Meter extends SparkListener {
  @volatile var enabled = false

  private val counters = new ConcurrentHashMap[String, LongAdder]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val jobStartUs = new ConcurrentHashMap[Int, java.lang.Long]()
  // last state-store figures per streaming run, summed when read
  private val stateRows = new ConcurrentHashMap[String, java.lang.Long]()
  private val stateMem = new ConcurrentHashMap[String, java.lang.Long]()

  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L

  def add(k: String, v: Long): Unit =
    if (enabled) counters.computeIfAbsent(k, _ => new LongAdder).add(v)

  def snapshot(): Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Rows and bytes held by state stores at the last batch of every
    * streaming run since the previous call. */
  def takeStreamingState(): (Long, Long) = {
    val r = (stateRows.values.asScala.map(_.longValue).sum, stateMem.values.asScala.map(_.longValue).sum)
    stateRows.clear(); stateMem.clear()
    r
  }

  def newId(): Long = ids.incrementAndGet()

  def record(parent: Long, qid: Long, name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) spans.add(Span(newId(), parent, qid, name, startUs, endUs))

  // ---- scheduler / executor / shuffle / sink ----
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) { jobStartUs.put(e.jobId, e.time * 1000L); add("scheduler.jobs", 1) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStartUs.remove(e.jobId)).foreach { s =>
      record(-1, -1, "scheduler.job", s, e.time * 1000L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val i = e.stageInfo
    add("scheduler.stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime)
      record(-1, -1, "executor.stage", s * 1000L, c * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    add("scheduler.tasks", 1)
    Option(e.taskInfo).foreach(i => add("scheduler.task_wall_ms", i.duration))
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("executor.result_bytes", m.resultSize)
      add("tables.read_bytes", m.inputMetrics.bytesRead)
      add("tables.read_rows", m.inputMetrics.recordsRead)
      val sr = m.shuffleReadMetrics
      add("shuffle.read_bytes", sr.totalBytesRead)
      add("shuffle.records", sr.recordsRead)
      add("shuffle.fetch_wait_ms", sr.fetchWaitTime)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      val out = m.outputMetrics.bytesWritten
      if (out > 0) {
        add("sink.bytes", out)
        add("sink.files", 1)
        add("sink.write_ms", m.executorRunTime)
      }
    }
  }

  // ---- catalyst ----
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (enabled) {
      qe.tracker.phases.foreach { case (phase, p) =>
        add("catalyst.plan_ms", p.durationMs)
        record(-1, -1, "catalyst." + phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  // ---- streaming ----
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      add("streaming.batches", 1)
      val d = p.durationMs.asScala
      def dur(k: String, metric: String): Unit = d.get(k).foreach(v => add(metric, v.longValue))
      dur("triggerExecution", "streaming.trigger_ms")
      dur("addBatch", "streaming.add_batch_ms")
      dur("walCommit", "streaming.wal_commit_ms")
      dur("queryPlanning", "streaming.query_planning_ms")
      val ops = p.stateOperators
      add("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum)
      val run = p.runId.toString
      stateRows.put(run, ops.map(_.numRowsTotal).sum)
      stateMem.put(run, ops.map(_.memoryUsedBytes).sum)
    }
  }
}
