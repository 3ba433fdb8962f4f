package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one tokenizer of the Spark side: the reference distwc mapper's
  * delimiter set `" \t\n\r"` (strtok), as a regex run. Every word count,
  * dedup, text and similarity query tokenizes through these; the DuckDB
  * twins are [[graft.operators.OracleCtes.wordsSql]] and its siblings,
  * and TokenizerParitySpec pins the two engines row for row.
  *
  * `trim` strips spaces only, so a text that starts or ends with a tab,
  * newline or CR yields an empty first or last token in [[words]] —
  * both engines agree on it, and [[distwc]] drops it as strtok does. */
object Tokens {

  /** A run of distwc delimiters. */
  val WS = "[ \t\n\r]+"

  /** The text's words: split on delimiter runs after trimming spaces. */
  def words(text: Column): Column = split(trim(text), WS)

  /** [[words]] of the lower-cased text. */
  def lowerWords(text: Column): Column = split(trim(lower(text)), WS)

  /** One row per distwc token of `df`'s `text` column, as column
    * `token` after the `keep` columns: the untrimmed split exploded,
    * then empty tokens dropped — what strtok yields. */
  def distwc(df: DataFrame, text: String, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(split(col(text), WS)).as("token"): _*)
      .filter(col("token") =!= "")

  /** [[distwc]] of one line, for RDD mappers. */
  def distwc(line: String): Iterator[String] = line.split(WS).iterator.filter(_.nonEmpty)

  /** Lower-cased text with each delimiter run replaced by one space,
    * then trimmed. */
  def normalized(text: Column): Column = trim(regexp_replace(lower(text), WS, " "))

  /** md5 of the [[normalized]] text's UTF-8 bytes: the exact-dup
    * fingerprint. */
  def fingerprint(text: Column): Column = md5(to_binary(normalized(text), lit("utf-8")))
}
