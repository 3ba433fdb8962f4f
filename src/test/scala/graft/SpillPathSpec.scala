package graft

/** Results must be IDENTICAL when the memory-pressure code paths run —
  * at 100 TB the spill/fallback paths are the normal paths, but a
  * small-scale test suite never exercises them (the whole bench runs
  * with 0 bytes spilled). Each test pins a query's output bit-for-bit
  * against its default-path result while the relevant operator is
  * forced to spill/fall back via its threshold conf (set/restored, the
  * Shared.withConfs discipline).
  */
class SpillPathSpec extends SparkSpec {

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None    => spark.conf.unset(k)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("window results are identical when the window buffer spills every 4 rows") {
    val base = rows(operators.Relational.q7Window(spark, sf))
    val spilled = withConf("spark.sql.windowExec.buffer.spill.threshold", "4") {
      rows(operators.Relational.q7Window(spark, sf))
    }
    assert(spilled == base, "window spill path changed the result")
  }

  test("as-of join is identical when sort-merge join buffers spill every 4 rows") {
    val base = rows(operators.RelationalExt.q26Asof(spark, sf))
    val spilled = withConf("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "4") {
      rows(operators.RelationalExt.q26Asof(spark, sf))
    }
    assert(spilled == base, "SMJ spill path changed the result")
  }

  test("custom top-k aggregate is identical under the sort-based aggregation fallback") {
    // TypedImperativeAggregate (TopKAgg) runs through ObjectHashAggregate;
    // fallbackThreshold=1 forces the sort-based path after one group,
    // exercising serialize/merge of the custom buffer
    val base = rows(operators.RelationalExt.q25TopkAgg(spark, sf))
    val fallback = withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1") {
      rows(operators.RelationalExt.q25TopkAgg(spark, sf))
    }
    assert(fallback == base, "sort-based aggregation fallback changed the result")
  }

  test("sessionization is identical when the external sorter spills every 4 rows") {
    val base = rows(streaming.EventStream.queries("st_sessionize")(spark, sf))
    val spilled = withConf("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "4") {
      withConf("spark.sql.windowExec.buffer.spill.threshold", "4") {
        rows(streaming.EventStream.queries("st_sessionize")(spark, sf))
      }
    }
    assert(spilled == base, "spilled sessionization changed the result")
  }
}
