package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> (SPARK_GRAFT_ONLY=a,b
  * dumps just those queries and their oracles). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // resolved before the session starts, so a bad name fails fast
    val selected = GraftSession.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    // RANDOMIZED execution order (r10 verdict item 8): the Shared.memo
    // recursive-update bug hid for five rounds because Verify's fixed
    // map order never exercised the colliding nesting — only Bench's
    // sorted order did. Shuffling per run makes the CORRECTNESS gate
    // itself the order-stress: every query must be order-independent,
    // so any order-sensitive state bug eventually lands on a failing
    // permutation here instead of surviving to a bench. The seed is
    // printed (and overridable via SPARK_GRAFT_ORDER_SEED) so a
    // failing permutation is replayable; SPARK_GRAFT_ORDER=sorted
    // restores a deterministic sweep for bisection.
    val ordered: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      sys.env.get("SPARK_GRAFT_ORDER") match {
        case Some("sorted") => selected.toSeq.sortBy(_._1)
        case _ =>
          val seed = sys.env.get("SPARK_GRAFT_ORDER_SEED").map(_.toLong)
            .getOrElse(System.nanoTime())
          System.err.println(s"[verify] query order: shuffled, seed=$seed " +
            "(replay with SPARK_GRAFT_ORDER_SEED, or SPARK_GRAFT_ORDER=sorted)")
          new scala.util.Random(seed).shuffle(selected.toSeq.sortBy(_._1))
      }
    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the gate runs under the same between-query state as Bench
      GraftSession.resetBetweenQueries(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
