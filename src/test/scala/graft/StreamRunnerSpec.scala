package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** `EventStream.runStream`, the one place a streaming query starts: it
  * sizes a run from the files the stream reads, starts quietly, and
  * leaves nothing registered on the session once a gate returns. */
class StreamRunnerSpec extends SparkSpec {

  test("the runner sizes st_late_data's layout from its real bytes; a missing source throws") {
    assert(SparkEntry.queries("st_late_data")(spark, sf).collect().nonEmpty)
    val layout = operators.Shared.memoDir(spark, sf, "st_late")(_ => fail("st_late_data built no layout"))
    // the same read st_late_data streams: the layout directory itself
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("event_type", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(layout.toString)
    val onDisk = layout.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(onDisk > 0, s"no batch files in $layout")
    assert(streaming.EventStream.sourceBytes(spark, stream) == onDisk)

    val events = new java.io.File(sf, "events.parquet").length
    assert(streaming.EventStream.sourceBytes(spark, streaming.EventStream.eventStream(spark, sf)) == events)

    // an events-file read of a layout directory matches nothing: an
    // error naming the path, never a size of 0 bytes
    val noEvents = spark.readStream.schema(stream.schema)
      .option("pathGlobFilter", "events.parquet").parquet(layout.toString)
    val e = intercept[java.io.FileNotFoundException](streaming.EventStream.sourceBytes(spark, noEvents))
    assert(e.getMessage.contains(s"$layout/events.parquet"), e.getMessage)
  }

  /** Start-time AQE WARNs logged while `body` runs, by message. */
  private def aqeWarnsDuring(body: => Unit): Map[String, Int] = {
    val messages = Seq("is not supported in streaming DataFrames", "Disabling AQE")
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "stream-aqe-warn", null, null, true, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        messages.filter(e.getMessage.getFormattedMessage.contains)
          .foreach(m => counts.merge(m, 1, _ + _))
    }
    appender.start()
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    root.addAppender(appender)
    try body finally {
      root.removeAppender(appender)
      appender.stop()
    }
    messages.map(m => m -> counts.getOrDefault(m, 0)).toMap
  }

  test("streaming gates start with AQE off: no ResolveWriteToStream WARN, none at all when stateless") {
    // st_sink_roundtrip is stateless; st_window_agg aggregates, and Spark
    // logs "Disabling AQE" for every stateful plan whatever the conf says
    val stateless = aqeWarnsDuring(SparkEntry.queries("st_sink_roundtrip")(spark, sf).collect())
    assert(stateless.values.forall(_ == 0), s"the stateless gate logged $stateless")
    val stateful = aqeWarnsDuring(SparkEntry.queries("st_window_agg")(spark, sf).collect())
    assert(stateful("is not supported in streaming DataFrames") == 0, s"the stateful gate logged $stateful")
  }

  test("without a reset, the progress-certificate stream gates and the temp-view queries leave nothing registered") {
    // a fresh session: its temp views and streams are its own, so what
    // other suites left on the shared one cannot mask or fail this check
    val s = spark.newSession()
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try {
      Seq("st_chained_stateful", "st_available_now", "q54_correlated_sub", "q60_sql_functions",
        "q62_recursive_cte", "q63_lateral_join", "q75_not_in_null").foreach { q =>
        assert(SparkEntry.queries(q)(s, sf).collect().nonEmpty, s"$q returned no rows")
      }
      val temps = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
      assert(temps.isEmpty, s"temporary tables left registered: ${temps.mkString(", ")}")
      assert(s.streams.active.isEmpty,
        s"streaming queries left active: ${s.streams.active.map(_.id).mkString(", ")}")
    } finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }
}
