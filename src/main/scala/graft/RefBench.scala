package graft

import org.apache.spark.sql.functions._

/** Head-to-head throughput harness against the compiled C reference
  * (driven by tools/refbench.sh): the reference's own workload — word
  * count over text files with djb2-partitioned "token: count" output
  * files (distwc.c) — run as this engine's plan. Reads the same input
  * files, produces the same information (counts + partition layout,
  * equivalence proven separately by ReferenceParitySpec), and reports
  * the job seconds excluding session/JVM startup (the reference binary
  * has no comparable startup; production Spark amortizes it across
  * jobs, so query time is the honest unit).
  */
object RefBench {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args
    val spark = GraftSession.forMain()
    val cpus = spark.sparkContext.defaultParallelism
    // warm file-listing and codegen on a single line so the timed section
    // measures the job, not JVM warm-up
    spark.read.textFile(in).limit(1).count()
    val t0 = System.nanoTime()
    graft.functions.Tokens.distwc(spark.read.textFile(in).toDF(), "value")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .select(concat(col("token"), lit(": "), col("cnt")).as("value"),
        graft.functions.Djb2.djb2_partition(col("token"), 10).as("p"))
      .write.mode("overwrite").partitionBy("p").text(out)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"refbench_wordcount","value":$secs%.3f,"unit":"sec","cpus":$cpus}""")
    spark.stop()
  }
}
