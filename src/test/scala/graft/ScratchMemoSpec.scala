package graft

import org.apache.spark.sql.SparkSession

/** Scratch owns every temp directory, and a memo is one directory its
  * build writes once: a two-table build runs its computation once, and
  * a memoized streaming drain is written once, straight into its memo
  * directory. */
class ScratchMemoSpec extends SparkSpec {

  test("Scratch.withDir deletes its directory when the body returns and when it throws") {
    var seen = ""
    val out = Scratch.withDir("graft_spec_withdir_") { dir =>
      seen = dir
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "f.txt"), "x")
      42
    }
    assert(out == 42)
    assert(seen.nonEmpty && !new java.io.File(seen).exists, s"left behind: $seen")

    val ex = intercept[IllegalStateException] {
      Scratch.withDir("graft_spec_withdir_") { dir =>
        seen = dir
        new java.io.File(dir, "sub").mkdirs()
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage == "boom")
    assert(!new java.io.File(seen).exists, s"left behind after a throw: $seen")
  }

  test("BPE: t_bpe_apply after t_bpe_train reads the memo, never reruns the training loop") {
    // a fresh session has no memo entries; the meter counts jobs on the
    // shared SparkContext
    val s = spark.newSession()
    val meter = new Bench.Meter().attach(s)
    def jobs(q: String): Long = {
      val before = meter.reading(s.sparkContext)
      SparkEntry.queries(q)(s, sf).collect()
      Bench.delta(meter.reading(s.sparkContext), before).getOrElse("jobs", 0L)
    }
    try {
      jobs("t_bpe_train")
      val afterTrain = jobs("t_bpe_apply")
      val hit = jobs("t_bpe_apply")
      assert(afterTrain <= hit,
        s"t_bpe_apply after t_bpe_train ran $afterTrain jobs, a memo hit runs $hit")
    } finally meter.detach(s)
  }

  test("sessionize: the drain is one memo directory under the scratch root, written once") {
    val s = spark.newSession()
    def entries(): Set[String] =
      Option(new java.io.File(Scratch.root).list()).fold(Set.empty[String])(_.toSet)
    val before = entries()
    val closed = SparkEntry.queries("st_sessionize_stream")(s, sf).collect()
    val timedOut = SparkEntry.queries("st_sessionize_final")(s, sf).collect()
    assert(closed.nonEmpty && timedOut.nonEmpty)
    val added = entries() -- before
    assert(added.size == 1 && added.head.startsWith("st_sessionize_drained-"),
      s"expected one memo entry, got: $added")
  }

  test("a drain that emits nothing reads back as an empty table with the stream's schema") {
    import org.apache.spark.sql.functions.{col, lit}
    val stream = streaming.EventStream.eventStream(spark, sf)
      .filter(lit(false)).select(col("event_id"), col("event_type"))
    Scratch.withDir("graft_spec_drain_") { out =>
      streaming.EventStream.drainToFiles(spark, stream, out, "append")
      val back = spark.read.parquet(out)
      assert(back.schema.fieldNames.toSeq == Seq("event_id", "event_type"))
      assert(back.schema.map(_.dataType) == stream.schema.map(_.dataType))
      assert(back.count() == 0)
    }
  }

  test("q71_cbo_stats uses the session it is given, not the thread's active one") {
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try {
      val s = spark.newSession()
      val rows = SparkEntry.queries("q71_cbo_stats")(s, sf).collect()
      assert(rows.nonEmpty)
      assert(SparkSession.getActiveSession.contains(spark), "q71 changed the active session")
    } finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }
}
