package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.functions._

import graft.functions.Djb2

/** Strongest correctness claim of the project, now reproducible in CI:
  * compile the C reference itself (/root/reference/distwc.c +
  * mapreduce.c + threadpool.c), run its word count over the documents
  * corpus split into files, and assert this engine produces IDENTICAL
  * token counts AND an identical `result-<p>.txt` partition layout
  * (djb2 mod 10, distwc.c main: MR_Run(..., 5, 10)).
  */
class ReferenceParitySpec extends SparkSpec {

  private def gccAvailable: Boolean = Process(Seq("sh", "-c", "command -v gcc")).! == 0

  test("compiled reference binary: identical wordcount and partition layout") {
    assume(gccAvailable, "gcc not available in this environment")
    val tmp = Files.createTempDirectory("refparity")
    val bin = tmp.resolve("distwc").toString
    val compile = Process(Seq("sh", "-c",
      s"gcc -O2 -o $bin /root/reference/distwc.c /root/reference/mapreduce.c " +
        "/root/reference/threadpool.c -lpthread 2>&1")).!
    assert(compile == 0, "gcc failed to compile the reference")

    // corpus: round-robin the documents into 5 input files (one map job each)
    val docs = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val files = (0 until 5).map { i =>
      val f = tmp.resolve(s"in_$i.txt")
      val part = docs.zipWithIndex.collect { case (t, j) if j % 5 == i => t }
      Files.writeString(f, part.mkString("\n") + "\n")
      f.toString
    }

    val run = Process(Seq(bin) ++ files, tmp.toFile).!
    assert(run == 0, "reference binary exited non-zero")

    // parse result-<p>.txt: "token: count" per line, token may contain ':'
    val refCounts = scala.collection.mutable.Map.empty[String, (Int, Long)]
    (0 until 10).foreach { p =>
      val f = tmp.resolve(s"result-$p.txt")
      if (Files.exists(f)) {
        Files.readAllLines(f).asScala.filter(_.nonEmpty).foreach { line =>
          val cut = line.lastIndexOf(": ")
          assert(cut > 0, s"unparseable reference line: $line")
          val token = line.substring(0, cut)
          val cnt = line.substring(cut + 2).trim.toLong
          assert(!refCounts.contains(token), s"token $token reduced twice")
          refCounts(token) = (p, cnt)
        }
      }
    }
    assert(refCounts.nonEmpty, "reference produced no output")

    // this engine, over the same files: wordcount + djb2 partition layout
    val ours = spark.read.textFile(files: _*)
      .select(explode(split(col("value"), "[ \t\n\r]+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .select(col("token"), col("cnt"), Djb2.djb2_partition(col("token"), 10).as("p"))
      .collect()
      .map(r => r.getString(0) -> (r.getInt(2), r.getLong(1)))
      .toMap

    assert(ours.keySet == refCounts.keySet,
      s"token sets differ; onlyRef=${(refCounts.keySet -- ours.keySet).take(3)} " +
        s"onlyUs=${(ours.keySet -- refCounts.keySet).take(3)}")
    ours.foreach { case (token, (p, cnt)) =>
      val (refP, refCnt) = refCounts(token)
      assert(cnt == refCnt, s"count mismatch for '$token': us=$cnt ref=$refCnt")
      assert(p == refP, s"partition mismatch for '$token': us=$p ref=$refP")
    }
  }
}
