package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Djb2
import graft.operators.OracleCtes

/** The oracle's djb2 against the engine's and the C reference's: every
  * DuckDB twin hashes through [[OracleCtes.djb2Sql]], so this pins that
  * one expression (and [[OracleCtes.signedSql]]) by running it in
  * DuckDB ([[DuckDb]]), the engine the oracle gate runs. No Spark
  * session needed.
  */
class OracleHashSpec extends AnyFunSuite {

  /** djb2 as the C definition computes it (`unsigned long`, signed
    * `char` promotion, over the key's UTF-8 bytes), printed by
    * `printf("%lu")` from a gcc build on x86-64. "doc-1000000001" sets
    * bit 63; the last two keys are not ASCII. */
  private val cValues: Seq[(String, String)] = Seq(
    "" -> "5381",
    "a" -> "177670",
    "abc" -> "193485963",
    "1000000001" -> "8243770299670298695",
    "doc-1000000001" -> "18122511133245977994",
    "héllo wörld" -> "13897401471218978738",
    "日本語" -> "249699037343576965")

  test("OracleCtes.djb2Sql in DuckDB equals Djb2.hash, the C definition and Djb2.partition") {
    val rows = DuckDb.rows(
      s"""SELECT i, CAST(h AS VARCHAR), ${OracleCtes.signedSql("h")}, CAST(h % 16 AS INT)
         |FROM (SELECT i, ${OracleCtes.djb2Sql("text")} AS h FROM (${DuckDb.texts(cValues.map(_._1))}))
         |ORDER BY i""".stripMargin)
    assert(rows.size == cValues.size, s"DuckDB returned ${rows.size} rows: $rows")
    cValues.zip(rows).foreach { case ((k, c), row) =>
      val Array(_, unsigned, signed, mod16) = row.split(",")
      val bytes = k.getBytes("UTF-8")
      val h = Djb2.hash(bytes)
      assert(unsigned == c, s"'$k': djb2Sql $unsigned, C $c")
      assert(unsigned == java.lang.Long.toUnsignedString(h), s"'$k': djb2Sql $unsigned, Djb2.hash $h")
      assert(signed.toLong == h, s"'$k': signedSql $signed, Djb2.hash $h")
      assert(mod16.toInt == Djb2.partition(bytes, 16), s"'$k': djb2Sql % 16 = $mod16")
    }
  }

  test("the key table reaches bit 63 and multi-byte characters") {
    assert(cValues.exists { case (k, _) => Djb2.hash(k.getBytes("UTF-8")) < 0 })
    assert(cValues.exists { case (k, _) => k.getBytes("UTF-8").length > k.length })
  }
}
