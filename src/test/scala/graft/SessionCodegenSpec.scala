package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionProbe

import graft.mapreduce.MapReduce

/** Generated code is compiled once per JVM, not once per session: every
  * query of `SparkEntry.queries` applies [[GraftSession.install]] to the
  * session it is handed, and so does [[Tables.load]]: a fresh session,
  * even one built outside [[GraftSession]], and a streaming query's
  * cloned session reuse the classes an earlier session compiled. */
class SessionCodegenSpec extends SparkSpec {
  private val isolation = "spark.sql.artifact.isolation.enabled"

  /** A fresh session as a harness that does not build it through
    * [[GraftSession.builder]] would hand it over: artifact isolation at
    * Spark's default, on. */
  private def outsideSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(isolation, "true")
    s
  }

  /** `name`'s schema and rows through `SparkEntry.queries` on `s`, and
    * the classes the run compiled. */
  private def run(s: SparkSession, name: String): ((String, Seq[String]), Long) = {
    val c0 = Bench.codegenCompiles()
    val df = SparkEntry.queries(name)(s, sf)
    val out = (df.schema.json, df.collect().map(_.toString).toSeq.sorted)
    val compiled = Bench.codegenCompiles() - c0
    GraftSession.resetBetweenQueries(s)
    assert(out._2.nonEmpty, s"$name returned no rows")
    (out, compiled)
  }

  test("a second fresh session compiles no class and returns the same bytes") {
    val names = Seq("q5_antijoin", "mr_wordcount")
    val first = outsideSession()
    val warm = names.map(run(first, _)._1)
    val second = outsideSession()
    val again = names.map(run(second, _))
    names.zip(again).foreach { case (n, (_, compiled)) =>
      assert(compiled == 0, s"$n compiled $compiled classes again in a fresh session")
    }
    assert(again.map(_._1) == warm)
    Seq(first, second).foreach(s =>
      assert(!SessionProbe.artifactIsolated(s), "a session that ran through SparkEntry.queries is isolated"))
  }

  test("a session whose first job is the MapReduce facade still shares the cache") {
    // the facade reaches the session only through Tables.documents; its
    // Dataset-to-RDD step is the session's first SQL execution
    def facade(s: SparkSession): Long = MapReduce.runCombined[String, String, Int](
      Tables.documents(s, sf).select("text").rdd.map(_.getString(0)),
      _.split(" ").iterator.map(_ -> 1), _ + _, 4).count()
    val first = outsideSession()
    val n = facade(first)
    val (rows, _) = run(first, "mr_wordcount")
    val second = outsideSession()
    assert(facade(second) == n)
    val (again, compiled) = run(second, "mr_wordcount")
    assert(!SessionProbe.artifactIsolated(second), "the facade's read left its session isolated")
    assert(compiled == 0, s"mr_wordcount compiled $compiled classes again after the facade")
    assert(again == rows)
  }

  test("a streaming query's second run on one session compiles no class") {
    val s = outsideSession()
    val (out1, _) = run(s, "st_window_agg")
    val (out2, compiled) = run(s, "st_window_agg")
    assert(compiled == 0, s"st_window_agg's second run compiled $compiled classes")
    assert(out2 == out1)
  }

  test("install on a session that has executed SQL does not throw and leaves it isolated") {
    val s = outsideSession()
    assert(s.range(3).selectExpr("id * 2 AS x").collect().length == 3)
    GraftSession.install(s)
    assert(SessionProbe.artifactIsolated(s), "the artifact state changed after the session's first SQL")
    // the meter sees what isolation costs: the same query compiles again
    // in this session's own class loader, and returns the same rows
    val (shared, _) = run(outsideSession(), "q5_antijoin")
    val (isolated, compiled) = run(s, "q5_antijoin")
    assert(compiled > 0, "an isolated session compiled no class, so the counter cannot tell a reuse")
    assert(isolated == shared)
  }
}
