package graft

import scala.sys.process._

/** DuckDB, the engine the oracle gate runs, evaluated through `python3`
  * for the cross-engine specs. A missing `duckdb` module fails with the
  * import error. Keep the SQL ASCII: pass text as hex of its UTF-8 bytes
  * (`decode(unhex('…'))`). */
object DuckDb {

  /** Rows of `sql`, one comma-joined line each. */
  def rows(sql: String): Seq[String] = {
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

  /** `SELECT i, decode(unhex(…)) AS text` rows, one per string, i = its index. */
  def texts(strings: Seq[String]): String =
    strings.zipWithIndex.map { case (t, i) =>
      val hex = t.getBytes("UTF-8").map(b => f"$b%02x").mkString
      s"SELECT $i AS i, decode(unhex('$hex')) AS text"
    }.mkString(" UNION ALL ")
}
