package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.{MinHashFns, Tokens}
import graft.operators.OracleCtes

/** The tokenizer in both engines: each [[Tokens]] column against its
  * [[OracleCtes]] twin run in DuckDB, row for row, over the edge cases
  * of the distwc rule — empty and blank text, space runs, every
  * delimiter, a leading and a trailing tab (which `trim` keeps, so both
  * engines split off an empty token), non-ASCII letters. The distwc
  * form is also pinned to the reference mapper's strtok tokens.
  */
class TokenizerParitySpec extends SparkSpec {

  /** Each text with the tokens `strtok(text, " \t\n\r")` returns. The
    * last one is long enough for 8-token shingles, with repeats. */
  private val strtok: Seq[(String, Seq[String])] = Seq(
    "" -> Seq(),
    " " -> Seq(),
    "a" -> Seq("a"),
    "  a  b " -> Seq("a", "b"),
    "a\tb\r\nc" -> Seq("a", "b", "c"),
    "\ta b" -> Seq("a", "b"),
    "x\t" -> Seq("x"),
    "Héllo WÖRLD" -> Seq("Héllo", "WÖRLD"),
    "a b a b a b a b a\tb c" -> Seq("a", "b", "a", "b", "a", "b", "a", "b", "a", "b", "c"))
  private val texts = strtok.map(_._1)
  private val ns = Seq(2, 3, 5, 8)

  private def hex(t: String): String = t.getBytes("UTF-8").map(b => f"$b%02X").mkString

  /** A token list as DuckDB renders it below: `<hex>` per element. */
  private def parse(rendered: String): Seq[String] =
    raw"<([0-9A-F]*)>".r.findAllMatchIn(rendered).map(_.group(1)).toSeq

  /** Per text: words, lowerWords, distwc, normalized, fingerprint, then
    * the shingles for each n, in order and distinct — DuckDB's side. */
  private lazy val duck: Seq[Seq[String]] = {
    def render(list: String) = s"array_to_string(list_transform($list, t -> '<' || hex(encode(t)) || '>'), '')"
    def grams(n: Int) =
      s"list_transform(generate_series(1, greatest(len(toks) - ${n - 1}, 0)), i -> ${OracleCtes.shinglesSql("toks", n)})"
    val cols = Seq(
      render(OracleCtes.wordsSql("text")),
      render(OracleCtes.lowerWordsSql("text")),
      render(OracleCtes.distwcSql("text")),
      s"'<' || hex(encode(${OracleCtes.normalizedSql("text")})) || '>'",
      OracleCtes.fingerprintSql("text")) ++
      ns.flatMap(n => Seq(render(grams(n)), render(s"list_distinct(${grams(n)})")))
    val rows = DuckDb.rows(
      s"""SELECT i, ${cols.mkString(", ")}
         |FROM (SELECT i, text, ${OracleCtes.wordsSql("text")} AS toks FROM (${DuckDb.texts(texts)}))
         |ORDER BY i""".stripMargin)
    assert(rows.size == texts.size, s"DuckDB returned ${rows.size} rows: $rows")
    rows.map(_.split(",", -1).toSeq.tail)
  }

  private lazy val docs = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
  }

  /** Spark's value of `c` per text, in text order. */
  private def sparkRows(c: org.apache.spark.sql.Column): Seq[Row] =
    docs.select(col("i"), c).orderBy("i").collect().toSeq

  private def sparkLists(c: org.apache.spark.sql.Column): Seq[Seq[String]] =
    sparkRows(c).map(_.getSeq[String](1).map(hex))

  private def check(what: String, spark: Seq[Seq[String]], duckCol: Int, distinct: Boolean = false): Unit =
    texts.indices.foreach { i =>
      val d = parse(duck(i)(duckCol))
      val (a, b) = if (distinct) (spark(i).toSet, d.toSet) else (spark(i), d)
      assert(a == b, s"$what of ${texts(i).map(c => f"\\u${c.toInt}%04x").mkString}: Spark $a, DuckDB $b")
    }

  test("words and lowerWords: Spark and DuckDB split alike, empty tokens included") {
    check("words", sparkLists(Tokens.words(col("text"))), 0)
    check("lowerWords", sparkLists(Tokens.lowerWords(col("text"))), 1)
    // the shared edge: trim strips spaces only, so a leading tab leaves an empty token
    assert(sparkLists(Tokens.words(col("text")))(texts.indexOf("\ta b")) == Seq("", "61", "62"))
  }

  test("distwc: the DataFrame form, the String form and DuckDB all give strtok's tokens") {
    val df = Tokens.distwc(docs, "text", "i").collect().toSeq
      .groupBy(_.getInt(0)).map { case (i, rs) => i -> rs.map(_.getString(1)) }
    strtok.zipWithIndex.foreach { case ((t, want), i) =>
      assert(df.getOrElse(i, Seq()) == want, s"Tokens.distwc(df) of text $i")
      assert(Tokens.distwc(t).toSeq == want, s"Tokens.distwc(line) of text $i")
      assert(parse(duck(i)(2)) == want.map(hex), s"distwcSql of text $i")
    }
  }

  test("normalized and fingerprint agree across engines") {
    check("normalized", sparkRows(Tokens.normalized(col("text"))).map(r => Seq(hex(r.getString(1)))), 3)
    val fp = sparkRows(Tokens.fingerprint(col("text"))).map(_.getString(1))
    texts.indices.foreach(i => assert(fp(i) == duck(i)(4), s"fingerprint of text $i"))
    // every delimiter run becomes one space, then the ends are trimmed
    assert(sparkRows(Tokens.normalized(col("text")))(texts.indexOf("a\tb\r\nc")).getString(1) == "a b c")
  }

  test("shinglesSql equals word_shingles for n = 2, 3, 5, 8, with and without distinct") {
    ns.zipWithIndex.foreach { case (n, k) =>
      check(s"$n-shingles", sparkLists(MinHashFns.word_shingles(Tokens.words(col("text")), n, distinct = false)), 5 + 2 * k)
      check(s"distinct $n-shingles", sparkLists(MinHashFns.word_shingles(Tokens.words(col("text")), n)), 6 + 2 * k,
        distinct = true)
    }
    // the long text yields 8-shingles with repeats, so distinct is exercised
    val long = texts.size - 1
    assert(parse(duck(long)(5 + 2 * 3)).size > parse(duck(long)(6 + 2 * 3)).toSet.size)
  }
}
