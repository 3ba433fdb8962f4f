package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Djb2
import graft.operators.OracleCtes

/** The oracle's djb2 against the engine's and the C reference's: every
  * DuckDB twin hashes through [[OracleCtes.djb2Sql]], so this pins that
  * one expression (and [[OracleCtes.signedSql]]) by running it in
  * DuckDB through `python3`, the engine the oracle gate runs. Keys
  * reach DuckDB as hex of their UTF-8 bytes, so the command line stays
  * ASCII. No Spark session needed.
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

  /** Rows of `sql` as evaluated by DuckDB, one comma-joined line each. */
  private def duckdb(sql: String): Seq[String] = {
    val py =
      """import sys
        |try:
        |    import duckdb
        |except ImportError as e:
        |    sys.exit(f"import duckdb failed: {e}")
        |for r in duckdb.sql(sys.argv[1]).fetchall():
        |    print(*r, sep=",")""".stripMargin
    val out, err = new StringBuilder
    val code = Process(Seq("python3", "-c", py, sql))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(code == 0, s"python3 + duckdb failed (exit $code): $err")
    out.toString.linesIterator.toSeq
  }

  test("OracleCtes.djb2Sql in DuckDB equals Djb2.hash, the C definition and Djb2.partition") {
    val keys = cValues.zipWithIndex.map { case ((k, _), i) =>
      val hex = k.getBytes("UTF-8").map(b => f"$b%02x").mkString
      s"SELECT $i AS i, decode(unhex('$hex')) AS k"
    }.mkString(" UNION ALL ")
    val rows = duckdb(
      s"""SELECT i, CAST(h AS VARCHAR), ${OracleCtes.signedSql("h")}, CAST(h % 16 AS INT)
         |FROM (SELECT i, ${OracleCtes.djb2Sql("k")} AS h FROM ($keys)) ORDER BY i""".stripMargin)
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
