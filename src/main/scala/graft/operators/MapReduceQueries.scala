package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Djb2, Tokens}
import graft.mapreduce.MapReduce

/** MapReduce core surface (SURVEY.md §2A): the reference's own workloads —
  * word count (/root/reference/distwc.c), grep, inverted index, partition
  * layout — re-expressed as declarative Spark plans so tokenization,
  * hashing and counting all stay inside whole-stage codegen with map-side
  * partial aggregation (the reference has no combiner: every emitted pair
  * crosses its shuffle; here only distinct tokens per partition do).
  */
object MapReduceQueries {

  /** distwc.c tokenization: split on space/tab/newline/CR, drop empties. */
  private def tokens(s: SparkSession, d: String) =
    Tokens.distwc(Tables.documents(s, d), "text", "doc_id")

  /** Word count — the reference's flagship (distwc.c Map/Reduce). */
  def wordcount(s: SparkSession, d: String): DataFrame =
    tokens(s, d)
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("token")

  val wordcountSql: String =
    s"""SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(${OracleCtes.distwcSql("text")}) AS token FROM documents
      |) GROUP BY token ORDER BY token""".stripMargin

  /** Distributed grep: per-document occurrence count of a literal pattern
    * (map-only job; no shuffle at all beyond the final order). */
  def grep(s: SparkSession, d: String): DataFrame = {
    val needle = "spark"
    Tables.documents(s, d)
      .select(col("doc_id"),
        ((length(col("text")) - length(replace(col("text"), lit(needle), lit("")))) / needle.length)
          .cast("bigint").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy("doc_id")
  }

  val grepSql: String =
    """SELECT doc_id,
      | CAST((length(text) - length(replace(text, 'spark', ''))) / 5 AS BIGINT) AS n_matches
      |FROM documents
      |WHERE (length(text) - length(replace(text, 'spark', ''))) / 5 > 0
      |ORDER BY doc_id""".stripMargin

  /** Inverted index: token → sorted distinct posting list. The classic
    * emit/group-by-key/collect reduce; `collect_set` keeps the partial-agg
    * path, `sort_array` makes the posting list deterministic. */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    tokens(s, d)
      .groupBy("token")
      .agg(array_join(sort_array(collect_set(col("doc_id"))), ",").as("docs"))
      .orderBy("token")

  val invertedIndexSql: String =
    s"""SELECT token, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS docs
      |FROM (
      |  SELECT doc_id, unnest(${OracleCtes.distwcSql("text")}) AS token FROM documents
      |) GROUP BY token ORDER BY token""".stripMargin

  /** Partition layout parity: how many distinct tokens land in each of 10
    * djb2 partitions — exercises the codegen'd [[Djb2Partition]]
    * expression; the oracle recomputes djb2 in SQL
    * ([[OracleCtes.djb2Sql]], HUGEINT 2^64 wraparound). */
  def partitionHist(s: SparkSession, d: String): DataFrame =
    tokens(s, d)
      .select("token").distinct()
      .select(Djb2.djb2_partition(col("token"), 10).cast("bigint").as("partition_idx"))
      .groupBy("partition_idx")
      .agg(count(lit(1)).as("n_tokens"))
      .orderBy("partition_idx")

  val partitionHistSql: String =
    s"""WITH toks AS (
      |  SELECT DISTINCT unnest(${OracleCtes.distwcSql("text")}) AS token FROM documents
      |)
      |SELECT CAST(${OracleCtes.djb2Sql("token")} % 10 AS BIGINT) AS partition_idx, count(*) AS n_tokens
      |FROM toks
      |GROUP BY partition_idx ORDER BY partition_idx""".stripMargin

  /** Generic keyed reduce through the [[MapReduce]] facade itself (the
    * compatibility path a reference user would hit): mean event value per
    * event type. Kept tiny-keyed so the facade's no-combiner shuffle is
    * harmless; the declarative twin would be groupBy().avg(). */
  def avgByKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, d)
      .select(col("event_type"), col("value"))
      .as[(String, Double)]
    val reduced = MapReduce.run[(String, Double), String, Double, (String, Double, Long)](
      rows.rdd,
      mapper = { case (k, v) => Iterator.single((k, v)) },
      reducer = { (k, vs) =>
        // exact integer micros: a double fold's value depends on
        // accumulation order and a float mean near a rounding boundary
        // diverges from the oracle's avg(); Σ round(v·10⁶) does not
        var micros = 0L; var n = 0L
        vs.foreach { v => micros += ExactRound.valueMicros(v); n += 1 }
        (k, ExactRound.rScalar(micros / (n * 1000000.0), 4), n)
      },
      numParts = graft.GraftConf.mrNumParts)
    reduced.toDF("event_type", "avg_value", "n").orderBy("event_type")
  }

  val avgByKeySql: String =
    """SELECT event_type,
      | round(sum(CAST(round(value * 1000000) AS BIGINT)) / (count(*) * 1000000.0) * 10000) / 10000 AS avg_value,
      | count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Distributed total-order sort with exact global rank — the TeraSort
    * two-phase shape, MapReduce's classic third benchmark after word
    * count and grep: (1) range-bucket every row by key, (2) count rows
    * per bucket and turn the (tiny) per-bucket counts into cumulative
    * offsets, (3) broadcast the offsets back and add a within-bucket
    * `row_number`. No single-partition global window anywhere: the only
    * full-order sort is over the bucket-count table (one row per bucket),
    * and ranking parallelizes across buckets. Production would draw
    * split points by sampling (RangePartitioner); fixed-width buckets
    * keep this deterministic and oracle-able — the skew they admit is
    * exactly what AQE's skew handling absorbs. */
  def sortRank(s: SparkSession, d: String): DataFrame = {
    val bucketed = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("bucket", floor(col("n_chars") / 25).cast("long"))
    // unpartitioned running-sum window, bounded: one row per 25-char
    // length bucket (the bucket table), not per document
    val offsets = bucketed.groupBy("bucket").agg(count(lit(1)).as("c"))
      .withColumn("offset", coalesce(
        sum("c").over(org.apache.spark.sql.expressions.Window.orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("bucket", "offset")
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn("rank", col("offset") + row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket").orderBy("n_chars", "doc_id")))
      .select("rank", "doc_id", "n_chars")
      .orderBy("rank")
  }

  val sortRankSql: String =
    """SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS rank, doc_id, n_chars
      |FROM documents ORDER BY rank""".stripMargin

  /** Secondary sort through the facade ([[MapReduce.runSorted]]): each
    * user's first and last event type in (ts, event_id) order, plus the
    * event count — the classic MR first/last pattern where the shuffle
    * files are sorted on the composite (key, secondary) key so the
    * reducer streams values in order with NO per-key buffering (the
    * reducer below holds two strings and a counter regardless of run
    * length — what distinguishes this from collect-and-sort). */
  def firstLast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    val reduced = MapReduce.runSorted[
        (Long, Long, Long, String), Long, (Long, Long), String, (Long, String, String, Long)](
      rows.rdd,
      mapper = { case (u, ts, eid, et) => Iterator.single((u, ((ts, eid), et))) },
      reducer = { (u, vs) =>
        var first: String = null; var last: String = null; var n = 0L
        vs.foreach { v => if (first == null) first = v; last = v; n += 1 }
        (u, first, last, n)
      },
      numParts = graft.GraftConf.mrNumParts)
    reduced.toDF("user_id", "first_type", "last_type", "n_events").orderBy("user_id")
  }

  /** `CAST(ts AS TIMESTAMP)` truncates DuckDB's nanos to Spark's micro
    * resolution so equal-micro ties break on event_id in BOTH engines. */
  val firstLastSql: String =
    """SELECT user_id,
      |  first(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) AS first_type,
      |  last(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) AS last_type,
      |  count(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Reduce-side join through the facade — the one relational operation
    * classic MapReduce users actually wrote by hand: tag tuples by
    * source relation, shuffle on the join key with the tag as the
    * SECONDARY sort key so each reducer run streams the (single)
    * dimension tuple first, then the fact tuples — O(1) reducer state,
    * no buffering either side (the textbook repartition join,
    * White's "Hadoop: The Definitive Guide" ch. 9 pattern). Emits per
    * customer: name, order count, total spend in integer cents
    * (left-join semantics: order-less customers kept). The declarative
    * twin is one `join`+`groupBy` — shown bit-equal by the oracle. */
  def mrJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val custs = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name")).as[(Long, String)]
      .rdd.map { case (k, name) => (k, (0, name, 0L)) }
    val ords = Tables.orders(s, d)
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long"))
      .as[(Long, Long)]
      .rdd.map { case (k, cents) => (k, (1, "", cents)) }
    val joined = MapReduce.runSorted[
        (Long, (Int, String, Long)), Long, Int, (Int, String, Long),
        (Long, String, Long, Long)](
      custs.union(ords),
      mapper = { case (k, (tag, name, cents)) => Iterator.single((k, (tag, (tag, name, cents)))) },
      reducer = { (k, vs) =>
        var name: String = null; var n = 0L; var cents = 0L
        vs.foreach {
          case (0, nm, _) => name = nm
          case (_, _, c) => n += 1; cents += c
        }
        (k, name, n, cents)
      },
      numParts = graft.GraftConf.mrNumParts)
    joined.toDF("custkey", "name", "n_orders", "cents")
      .filter(col("name").isNotNull) // orders with no customer row (none here) would be dangling
      .orderBy("custkey")
  }

  val mrJoinSql: String =
    """SELECT c_custkey AS custkey, c_name AS name,
      |  count(o_custkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY custkey""".stripMargin

  /** Chained MR jobs — the reference pattern for anything past one
    * shuffle (job 2 reads job 1's output, /root/reference/mapreduce.h's
    * MR_Run called twice): word count, then frequency-of-frequencies
    * (how many tokens occur exactly c times — the vocabulary-profile
    * example from the original MapReduce literature). Both legs use the
    * combiner facade, so leg 1 shuffles one count per (partition, token)
    * and leg 2 one per (partition, count); the intermediate "file" is an
    * RDD handed straight to job 2, no materialization. */
  def freqOfFreq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("text")).as[String]
    val counts = MapReduce.runCombined[String, String, Long](
      docs.rdd,
      mapper = line => Tokens.distwc(line).map(_ -> 1L),
      merge = _ + _, numParts = graft.GraftConf.mrNumParts)
    val fof = MapReduce.runCombined[(String, Long), Long, Long](
      counts,
      mapper = { case (_, c) => Iterator.single(c -> 1L) },
      merge = _ + _, numParts = graft.GraftConf.mrNumParts)
    fof.toDF("cnt", "n_tokens").orderBy("cnt")
  }

  val freqOfFreqSql: String =
    s"""WITH wc AS (
      |  SELECT token, count(*) AS cnt FROM (
      |    SELECT unnest(${OracleCtes.distwcSql("text")}) AS token FROM documents
      |  ) GROUP BY token
      |)
      |SELECT cnt, count(*) AS n_tokens FROM wc GROUP BY cnt ORDER BY cnt""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_freq_of_freq" -> (freqOfFreq _),
    "mr_join" -> (mrJoin _),
    "mr_first_last" -> (firstLast _),
    "mr_sort" -> (sortRank _),
    "mr_wordcount" -> (wordcount _),
    "mr_grep" -> (grep _),
    "mr_inverted_index" -> (invertedIndex _),
    "mr_partition_hist" -> (partitionHist _),
    "mr_avg_by_key" -> (avgByKey _))

  val oracles: Map[String, String] = Map(
    "mr_freq_of_freq" -> freqOfFreqSql,
    "mr_join" -> mrJoinSql,
    "mr_first_last" -> firstLastSql,
    "mr_sort" -> sortRankSql,
    "mr_wordcount" -> wordcountSql,
    "mr_grep" -> grepSql,
    "mr_inverted_index" -> invertedIndexSql,
    "mr_partition_hist" -> partitionHistSql,
    "mr_avg_by_key" -> avgByKeySql)
}
