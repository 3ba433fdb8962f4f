package graft

/** Round-13 attribution probe: per-query JOB/STAGE/TASK counts.
  *
  * At sf0.1 the whole corpus is 17.5 MB, so bench seconds are dominated by
  * fixed per-job/per-stage scheduler latency, not by bytes — a query's wall
  * time is roughly (#jobs x job latency) + (#stages x stage latency) +
  * task-time/cores. Guide §1 says attribute BEFORE cutting: this probe
  * counts the jobs, stages and tasks each query submits so "remove
  * passes/shuffles" work (§2.4) targets the queries that schedule the most,
  * and so before/after diffs show the structural change (job count down),
  * not just host-noisy seconds.
  *
  * Usage: runMain graft.ProbeJobs <sfDir> <query...|family:st|all>
  */
object ProbeJobs {
  private object Counter extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.LongAdder
    val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.add(1)
    override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.add(1); tasks.add(sc.stageInfo.numTasks)
    }
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.forMain()
    spark.sparkContext.addSparkListener(Counter)

    val names: Seq[String] = args.drop(1).toSeq match {
      case Seq() | Seq("all") => SparkEntry.queries.keys.toSeq.sorted
      case sel => sel.flatMap {
        case s"family:$p" => SparkEntry.queries.keys.filter(_.startsWith(p + "_")).toSeq.sorted
        case q => Seq(q)
      }
    }
    Tables.all.foreach { t =>
      try Tables.load(spark, d, t).count() catch { case _: Throwable => () }
    }
    // two passes: first warms codegen/JIT, second is the attributed one
    println(f"${"query"}%-26s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try { fn(spark, d).count() } catch { case e: Throwable =>
        println(s"$n FAILED(warm): ${e.getMessage.take(120)}") }
      GraftSession.resetBetweenQueries(spark)
      try org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      catch { case _: Throwable => () }
      val (j0, s0, t0) = (Counter.jobs.sum, Counter.stages.sum, Counter.tasks.sum)
      val w0 = System.nanoTime()
      val ok = try { fn(spark, d).count(); true } catch { case e: Throwable =>
        println(s"$n FAILED: ${e.getMessage.take(120)}"); false }
      val wall = (System.nanoTime() - w0) / 1e9
      try org.apache.spark.graft.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      catch { case _: Throwable => () }
      if (ok)
        println(f"$n%-26s $wall%8.2f ${Counter.jobs.sum - j0}%6d " +
          f"${Counter.stages.sum - s0}%7d ${Counter.tasks.sum - t0}%7d")
      GraftSession.resetBetweenQueries(spark)
    }
    spark.stop()
  }
}
