package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator family's queries (SURVEY.md §2) into the
  * single map the driver's Verify/Bench harness consumes.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q10StarJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each one
    * first applies [[GraftSession.install]] to the session it is handed,
    * so a session built outside [[GraftSession.builder]] runs its
    * queries under graft's session confs too (one codegen cache per
    * JVM among them). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (operators.Relational.queries ++ operators.RelationalExt.queries ++
      operators.RelationalExt2.queries ++ operators.RelationalExt3.queries ++
      operators.RelationalExt4.queries ++ operators.RelationalExt5.queries ++
      operators.RelationalExt6.queries ++
      operators.MapReduceQueries.queries ++
      operators.TextAnalysis.queries ++ operators.Dedup.queries ++
      operators.Pipeline.queries ++ operators.Graph.queries ++
      operators.Similarity.queries ++ multimodal.Multimodal.queries ++
      streaming.EventStream.queries)
      .map { case (name, body) =>
        name -> ((s: SparkSession, d: String) => body(GraftSession.install(s), d))
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++ operators.RelationalExt.oracles ++
      operators.RelationalExt2.oracles ++ operators.RelationalExt3.oracles ++
      operators.RelationalExt4.oracles ++ operators.RelationalExt5.oracles ++
      operators.RelationalExt6.oracles ++
      operators.MapReduceQueries.oracles ++
      operators.TextAnalysis.oracles ++ operators.Dedup.oracles ++
      operators.Pipeline.oracles ++ operators.Graph.oracles ++
      operators.Similarity.oracles ++ multimodal.Multimodal.oracles ++
      streaming.EventStream.oracles
}
