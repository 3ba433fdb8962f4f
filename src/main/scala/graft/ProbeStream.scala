package graft

/** Diagnostic main: runs one named SparkEntry query with a
  * StreamingQueryListener attached and prints per-micro-batch progress
  * — batch duration breakdown, state rows, watermark — so a slow
  * streaming operator is attributable to a specific batch/phase
  * instead of a single opaque wall time.
  * Usage: runMain graft.ProbeStream <query> [sfDir]
  */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("st_stream_stream_outer")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.forMain()
    // wall vs work: sum of task run times per 2-second window tells
    // whether a slow batch is executing tasks or waiting on driver-side
    // latencies (planning, state commits, WAL) — the cheap first split
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskN = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (e.taskInfo != null) {
          taskMs.addAndGet(e.taskInfo.duration); taskN.incrementAndGet()
        }
      }
    })
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durMs=${p.durationMs} stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
          s"wm=${p.eventTime.get("watermark")}")
      }
    })
    // two passes: the first warms codegen/JIT and any session memos, the
    // second is the STEADY attribution (the bench's steady-pass shape)
    Seq("cold", "steady").foreach { pass =>
      taskMs.set(0); taskN.set(0)
      System.err.println(s"[probe] ---- $pass pass ----")
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(query)(spark, sfDir).count()
      System.err.println(f"[probe] $query $pass total ${(System.nanoTime() - t0) / 1e9}%.1f s, $n rows, " +
        s"taskTime=${taskMs.get()} ms across ${taskN.get()} tasks")
      GraftSession.resetBetweenQueries(spark)
    }
    spark.stop()
  }
}
