package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Tokens

/** End-to-end curation pipeline (SURVEY.md §2 composition demo): the
  * operators composing as a training-data cleaning job — quality filter →
  * exact-dedup canonicalization → token accounting. Each stage is one of
  * the §2 operators; the pipeline is their declarative composition, so
  * Catalyst fuses the scans and the whole job is two shuffles (dedup
  * window + final sort) regardless of how many stages are chained.
  */
object Pipeline {

  def curate(s: SparkSession, d: String): DataFrame = {
    val quality = TextAnalysis.quality(s, d)
      .select("doc_id", "n_tokens", "quality_score")
    val canonical = Dedup.exact(s, d)
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id")
    quality.join(canonical, "doc_id")
      .filter(col("quality_score") >= 0.5)
      .orderBy("doc_id")
  }

  /** Oracle: TextAnalysis's shared quality-score SQL fragments composed
    * with the dedup-canonical window — single source, no formula drift. */
  val curateSql: String = {
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    ${TextAnalysis.nTokensSql} AS n_tokens,
       |    ${TextAnalysis.qualityScoreSql} AS quality_score
       |  FROM documents
       |), canon AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM (
       |    SELECT doc_id, ${OracleCtes.fingerprintSql("text")} AS fp
       |    FROM documents
       |  )
       |)
       |SELECT s.doc_id, s.n_tokens, s.quality_score
       |FROM scored s JOIN canon c ON s.doc_id = c.doc_id AND c.doc_id = c.canonical_id
       |WHERE s.quality_score >= 0.5
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Deterministic mixture sampling — training-mix construction: tier
    * every document by length, then keep a per-tier fraction selected by
    * a stable hash of the doc id (djb2, the engine's own partitioner
    * hash), so the sample is reproducible across runs and engines with
    * no RNG state to coordinate: short 25%, mid 50%, long 100%. At scale
    * this is a pure map-side filter — no shuffle at all. */
  def mix(s: SparkSession, d: String): DataFrame = {
    // tier by n_chars (== length(text)) so the scan prunes the text column
    val tier = when(col("n_chars") < 200, "short")
      .when(col("n_chars") < 350, "mid")
      .otherwise("long")
    graft.Tables.documents(s, d)
      .select(col("doc_id"), tier.as("tier"))
      .withColumn("bucket",
        graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 100))
      .filter(col("bucket") <
        when(col("tier") === "short", 25).when(col("tier") === "mid", 50).otherwise(100))
      .select("doc_id", "tier", "bucket")
      .orderBy("doc_id")
  }

  val mixSql: String =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars < 200 THEN 'short'
      |         WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS tier,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket
      |  FROM documents
      |)
      |SELECT doc_id, tier, bucket FROM b
      |WHERE bucket < CASE tier WHEN 'short' THEN 25 WHEN 'mid' THEN 50 ELSE 100 END
      |ORDER BY doc_id""".stripMargin

  /** Data-card profiling: per-tier corpus statistics (doc counts, char
    * totals, exact quartiles of document length) — the summary table a
    * dataset release ships with. Exact `percentile` (not approx): the
    * linear interpolation at dyadic fractions (.25/.5/.75) of integer
    * lengths is IEEE-exact, so the quartiles are bit-identical across
    * engines with no rounding at all. One partial-agg shuffle at scale
    * (percentile is a sort-based aggregate — heavier than a sketch, which
    * is why q21 also ships approx_percentile for the 100 TB path). */
  def profile(s: SparkSession, d: String): DataFrame = {
    // tier by the materialized n_chars column (== length(text)), so
    // projection pruning drops the wide text column from the scan
    val tier = when(col("n_chars") < 200, "short")
      .when(col("n_chars") < 350, "mid")
      .otherwise("long")
    graft.Tables.documents(s, d)
      .select(tier.as("tier"), col("n_chars"))
      .groupBy("tier")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        expr("percentile(n_chars, 0.25)").as("p25_chars"),
        expr("percentile(n_chars, 0.5)").as("median_chars"),
        expr("percentile(n_chars, 0.75)").as("p75_chars"))
      .orderBy("tier")
  }

  val profileSql: String =
    """SELECT tier, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars,
      | quantile_cont(n_chars, 0.25) AS p25_chars,
      | quantile_cont(n_chars, 0.5) AS median_chars,
      | quantile_cont(n_chars, 0.75) AS p75_chars
      |FROM (
      |  SELECT CASE WHEN n_chars < 200 THEN 'short'
      |              WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS tier,
      |         n_chars
      |  FROM documents
      |)
      |GROUP BY tier ORDER BY tier""".stripMargin

  /** Curriculum staging — order-by-difficulty preparation for curriculum
    * training: documents are assigned to 5 stages by exact quality-score
    * quintiles and each stage reports its doc/token mass and score
    * range. Scores live as integer MICROS (quality_score is already
    * 6-dp-rounded, so ·10⁶ is exact), which keeps the quantile edges on
    * the long-typed `percentile` path p_profile proved bit-portable —
    * double interpolation of integer order statistics. NO global sort or
    * rank window: the edge row broadcasts and assignment is a map-side
    * comparison, so the shape survives any corpus size (at 100 TB the
    * exact percentile — which buffers the group — would swap for
    * approx_percentile with a documented rank-error bound; the staging
    * mechanics are unchanged). */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    // r13: materialize the quality-score projection ONCE — it feeds both
    // the percentile-edge aggregate and the staging pass, and without the
    // checkpoint the whole regex-heavy score subtree computed twice
    // (guide §2.4: don't compute things you already have). Narrow frame:
    // three longs per doc.
    val q = TextAnalysis.quality(s, d)
      .select(col("doc_id"), col("n_tokens"),
        round(col("quality_score") * 1000000).cast("long").as("sm"))
      .localCheckpoint() // keep: reuse
    val edges = q.agg(expr("percentile(sm, array(0.2D, 0.4D, 0.6D, 0.8D))").as("es"))
      .select((1 to 4).map(k => element_at(col("es"), k).as(s"e$k")): _*)
    val stage = (1 to 4).map(k => (col("sm") > col(s"e$k")).cast("long"))
      .foldLeft(lit(1L))(_ + _)
    q.crossJoin(broadcast(edges))
      .select(col("doc_id"), col("n_tokens"), col("sm"), stage.as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("sm").as("min_score_micros"),
        max("sm").as("max_score_micros"),
        (round(sum("sm") / (count(lit(1)) * 1000000.0) * 10000) / 10000).as("avg_score"))
      .orderBy("stage")
  }

  val curriculumSql: String = {
    val score = graft.operators.TextAnalysis.qualityScoreSql
    val nTok = s"CAST(len(${OracleCtes.wordsSql("text")}) AS BIGINT)"
    s"""WITH q AS (
       |  SELECT doc_id, $nTok AS n_tokens,
       |    CAST(round(($score) * 1000000) AS BIGINT) AS sm
       |  FROM documents
       |), e AS (
       |  SELECT quantile_cont(sm, 0.2) AS e1, quantile_cont(sm, 0.4) AS e2,
       |         quantile_cont(sm, 0.6) AS e3, quantile_cont(sm, 0.8) AS e4
       |  FROM q
       |), st AS (
       |  SELECT q.doc_id, q.n_tokens, q.sm,
       |    CAST(1 + CAST(q.sm > e.e1 AS INT) + CAST(q.sm > e.e2 AS INT)
       |           + CAST(q.sm > e.e3 AS INT) + CAST(q.sm > e.e4 AS INT) AS BIGINT) AS stage
       |  FROM q, e
       |)
       |SELECT stage, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  min(sm) AS min_score_micros, max(sm) AS max_score_micros,
       |  round(sum(sm) / (count(*) * 1000000.0) * 10000) / 10000 AS avg_score
       |FROM st GROUP BY stage ORDER BY stage""".stripMargin
  }

  /** Mixture-drift monitoring — the check a production pipeline runs per
    * ingest batch: is each source's length-tier distribution drifting
    * from the corpus mixture? Emits one row per (source, tier) with the
    * chi-square contribution ((observed − expected)²/expected, expected =
    * n_source·n_tier/N). Deliberately NO cross-row double sum: each term
    * is a fixed-order IEEE expression over exact integer counts, so every
    * cell is bit-portable; consumers threshold or sum terms downstream.
    * Four low-cardinality partial-agg shuffles at any scale. */
  def drift(s: SparkSession, d: String): DataFrame = {
    val tier = when(col("n_chars") < 200, "short")
      .when(col("n_chars") < 350, "mid")
      .otherwise("long")
    val docs = graft.Tables.documents(s, d).select(col("source"), tier.as("tier"))
    val st = docs.groupBy("source", "tier").agg(count(lit(1)).as("n_docs"))
    val bySource = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val byTier = docs.groupBy("tier").agg(count(lit(1)).as("n_t"))
    val total = docs.agg(count(lit(1)).as("n_all"))
    val expected = col("n_s").cast("double") * col("n_t") / col("n_all")
    st.join(broadcast(bySource), "source")
      .join(broadcast(byTier), "tier")
      .crossJoin(broadcast(total))
      .select(col("source"), col("tier"), col("n_docs"),
        ExactRound.r(expected, 4).as("expected"),
        ExactRound.r((col("n_docs") - expected) * (col("n_docs") - expected) / expected, 6)
          .as("chi2_term"))
      .orderBy("source", "tier")
  }

  val driftSql: String = {
    val expected = "CAST(n_s AS DOUBLE) * n_t / n_all"
    s"""WITH d AS (
       |  SELECT source, CASE WHEN n_chars < 200 THEN 'short'
       |                      WHEN n_chars < 350 THEN 'mid' ELSE 'long' END AS tier
       |  FROM documents
       |), st AS (SELECT source, tier, count(*) AS n_docs FROM d GROUP BY 1, 2),
       |s AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
       |t AS (SELECT tier, count(*) AS n_t FROM d GROUP BY 1),
       |a AS (SELECT count(*) AS n_all FROM d)
       |SELECT st.source, st.tier, st.n_docs,
       |  ${ExactRound.rSql(expected, 4)} AS expected,
       |  ${ExactRound.rSql(s"(st.n_docs - $expected) * (st.n_docs - $expected) / ($expected)", 6)} AS chi2_term
       |FROM st JOIN s USING (source) JOIN t USING (tier), a
       |ORDER BY source, tier""".stripMargin
  }

  /** Sequence packing — the step between curation and the trainer:
    * concatenate documents in a deterministic order and cut the stream
    * into fixed token-budget training sequences (GPT-style concat-and-
    * chunk; a doc may straddle two sequences). The stream is sharded
    * into hash buckets and each bucket packs independently via a
    * bucket-partitioned running sum — sequences never cross buckets, so
    * at 100 TB packing parallelizes to as many buckets as the cluster
    * has cores, with no global order and no single-partition window.
    * Emits one row per packed sequence (its doc span and token count);
    * all arithmetic is integer, so cross-engine exactness is free. */
  def pack(s: SparkSession, d: String): DataFrame = {
    val budget = 512L
    val nBuckets = 16
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket").orderBy("doc_id")
    graft.Tables.documents(s, d)
      .select(col("doc_id"),
        size(Tokens.words(col("text"))).cast("long").as("n_tok"))
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets)).cast("long"))
      .withColumn("start_tok", coalesce(
        sum("n_tok").over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("seq_id", floor(col("start_tok") / budget).cast("long"))
      .groupBy("bucket", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("bucket", "seq_id")
  }

  val packSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    CAST(len(${OracleCtes.wordsSql("text")}) AS BIGINT) AS n_tok,
      |    doc_id % 16 AS bucket
      |  FROM documents
      |), cum AS (
      |  SELECT doc_id, n_tok, bucket,
      |    coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
      |  FROM toks
      |)
      |SELECT bucket, CAST(start_tok // 512 AS BIGINT) AS seq_id,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM cum GROUP BY bucket, seq_id ORDER BY bucket, seq_id""".stripMargin

  /** Stratified train/val/test split: every document is assigned a split
    * by a stable hash of its id (djb2 bucket: <90 train, <95 val, else
    * test) — reproducible across runs, engines and repartitionings, with
    * no RNG state — and the report shows the realized per-source
    * stratification (doc and char counts per (source, split)). The
    * assignment is pure map-side; only the tiny report aggregates. At
    * 100 TB the same hash assigns the same split to the same doc on
    * every executor — the property sampling-based splitters lose. */
  def stratSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 100)
    graft.Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("source", "split")
  }

  val splitSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket
      |  FROM documents
      |)
      |SELECT source,
      |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  /** Per-source token-quota capping — the "no source dominates the mix"
    * guard every mixture recipe needs: documents are taken per source in
    * a stable hash-then-id order (djb2 bucket first, so the kept prefix
    * is an unbiased reproducible sample, not the lowest ids) until the
    * source's whitespace-token budget is exhausted; a doc is kept only
    * if it fits entirely. One shuffle-sort per source (window cumulative
    * sum — spills, never buffers a source in memory); the order key is
    * engine-stable so the kept set is bit-identical anywhere. */
  def quota(s: SparkSession, d: String): DataFrame = {
    val budget = 800L
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 100)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bucket", "doc_id")
    graft.Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(Tokens.words(col("text"))).cast("long").as("n_tok"),
        bucket.as("bucket"))
      .withColumn("cum_tok", sum("n_tok").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("cum_tok") <= budget)
      .select("doc_id", "source", "n_tok", "cum_tok")
      .orderBy("doc_id")
  }

  val quotaSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, source,
      |    CAST(len(${OracleCtes.wordsSql("text")}) AS BIGINT) AS n_tok,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 100 AS INT) AS bucket
      |  FROM documents
      |), cum AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY bucket, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |  FROM b
      |)
      |SELECT doc_id, source, n_tok, cum_tok FROM cum
      |WHERE cum_tok <= 800 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- k-anonymity

  /** K-ANONYMITY generalization ladder — the release-gating governance
    * pass a user-derived training corpus needs before it ships: no
    * published equivalence class of quasi-identifiers may contain fewer
    * than k individuals. Quasi-identifier here is (nation, market
    * segment) on `customer`; k = 5. The ladder generalizes, never
    * drops: a customer publishes at the MOST SPECIFIC level whose
    * group still clears k — level 0 = (nation, segment); groups under
    * k cascade to level 1 = (nation, '*'); still-small remainders
    * collapse into the level-2 ('*', '*') catch-all. Counts at each
    * rung are over the rows still unplaced (the cascade semantics —
    * counting already-placed rows would overstate the anonymity of the
    * residue). Output: one row per published equivalence class with
    * its level and size, plus the certificate column `k_ok` — true iff
    * the class clears k or is the terminal catch-all (which may be
    * small; that residue is the answer, not a violation).
    *
    * Scale shape: two narrow aggregations over the QI columns; the
    * group-size tables are bounded by |nations| × |segments| (≤ a few
    * hundred rows), so both placement joins broadcast — the fact table
    * is scanned twice, shuffled never. At 100 TB the same plan holds:
    * class census is partial-agg'd map-side, placement is a broadcast
    * hash join against the census. */
  def kanon(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val cust = graft.Tables.customer(s, d)
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").cast("string").as("nat"),
        col("c_mktsegment").as("seg"))
    val g0 = cust.groupBy("nat", "seg").agg(count(lit(1)).as("n0"))
    val placed0 = cust.join(broadcast(g0), Seq("nat", "seg"))
    val lvl0 = placed0.filter(col("n0") >= k)
      .select(col("nat").as("qi_nation"), col("seg").as("qi_segment"), lit(0).as("level"))
    val rest1 = placed0.filter(col("n0") < k).select("c_custkey", "nat", "seg")
    val g1 = rest1.groupBy("nat").agg(count(lit(1)).as("n1"))
    val placed1 = rest1.join(broadcast(g1), Seq("nat"))
    val lvl1 = placed1.filter(col("n1") >= k)
      .select(col("nat").as("qi_nation"), lit("*").as("qi_segment"), lit(1).as("level"))
    val lvl2 = placed1.filter(col("n1") < k)
      .select(lit("*").as("qi_nation"), lit("*").as("qi_segment"), lit(2).as("level"))
    lvl0.unionByName(lvl1).unionByName(lvl2)
      .groupBy("qi_nation", "qi_segment", "level")
      .agg(count(lit(1)).as("n_customers"))
      .select(col("qi_nation"), col("qi_segment"), col("level"),
        col("n_customers"),
        (col("n_customers") >= k || col("level") === 2).as("k_ok"))
      .orderBy("level", "qi_nation", "qi_segment")
  }

  val kanonSql: String =
    """WITH c AS (
      |  SELECT c_custkey, CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR) AS nat,
      |    c_mktsegment AS seg
      |  FROM customer
      |), g0 AS (
      |  SELECT nat, seg, count(*) AS n0 FROM c GROUP BY 1, 2
      |), p0 AS (
      |  SELECT c.c_custkey, c.nat, c.seg, g0.n0 FROM c JOIN g0 USING (nat, seg)
      |), rest1 AS (
      |  SELECT c_custkey, nat, seg FROM p0 WHERE n0 < 5
      |), g1 AS (
      |  SELECT nat, count(*) AS n1 FROM rest1 GROUP BY 1
      |), p1 AS (
      |  SELECT r.c_custkey, r.nat, g1.n1 FROM rest1 r JOIN g1 USING (nat)
      |), placed AS (
      |  SELECT nat AS qi_nation, seg AS qi_segment, 0 AS level FROM p0 WHERE n0 >= 5
      |  UNION ALL
      |  SELECT nat, '*', 1 FROM p1 WHERE n1 >= 5
      |  UNION ALL
      |  SELECT '*', '*', 2 FROM p1 WHERE n1 < 5
      |)
      |SELECT qi_nation, qi_segment, level, count(*) AS n_customers,
      |  (count(*) >= 5 OR level = 2) AS k_ok
      |FROM placed GROUP BY 1, 2, 3
      |ORDER BY level, qi_nation, qi_segment""".stripMargin

  /** Deterministic shard manifest — the reproducibility artifact a
    * dataset release ships beside the data: documents assigned to 16
    * shards by the stable djb2 bucket, and per shard a doc count, char
    * total, and a CONTENT HASH (md5 over the (doc_id, fingerprint)
    * list in doc_id order) that changes iff any member document
    * changes. Consumers diff manifests to detect silent corpus drift
    * without re-reading the data. The per-shard list is sorted AFTER
    * collection (the q33 deterministic-listagg discipline), so the
    * manifest hash is independent of shuffle order and partitioning —
    * the property that makes it a usable integrity check at all. */
  /** Per-shard manifest aggregation over (doc_id, n_chars, shard, text):
    * doc count, char total, order-independent content hash. Shared by
    * [[manifest]] (computed straight off the table scan) and
    * [[shardWrite]] (computed off re-read partitioned files) — one
    * definition, so equality between the two queries is a statement
    * about the WRITE PATH, not about two aggregations agreeing. */
  private def manifestAgg(rows: DataFrame): DataFrame =
    rows
      .select(col("doc_id"), col("n_chars"), col("shard"),
        md5(to_binary(col("text"), lit("utf-8"))).as("fp"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        md5(to_binary(array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("fp")))),
            x => concat(x.getField("doc_id").cast("string"), lit(":"), x.getField("fp"))),
          ","), lit("utf-8"))).as("manifest_md5"))
      .orderBy("shard")

  def manifest(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    manifestAgg(graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard")))
  }

  /** The WRITE path behind a correctness gate: the reference's visible
    * output is partitioned files (distwc.c appends `key: count` to
    * `result-<p>.txt`, one file per partition) — this is that capability
    * on the engine's sink. The 16 djb2 shards are written as
    * `partitionBy(shard)` parquet (hive-style shard=N directories, the
    * cluster-scale layout: each shard independently listable/readable),
    * the files are READ BACK, and the manifest of [[manifestAgg]] is
    * computed from the re-read rows. The oracle is [[manifestSql]] —
    * p_manifest's — so a green entry certifies the round-trip end to
    * end: no row loss or duplication, partition-column recovery from
    * directory names, byte-exact text fidelity (any corruption flips a
    * shard's md5). The re-read is materialized (localCheckpoint) so the
    * scratch directory can be deleted eagerly instead of leaking a copy
    * of the corpus per invocation; the rows still COME from the files —
    * the checkpoint happens strictly after the parquet scan. */
  def shardWrite(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_shard_write_") { out =>
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      val back = s.read.parquet(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** Escape text so one document is exactly one line of a plain-text
    * file: URL-style, '%' hoisted first so decoding is unambiguous in a
    * fixed replace order ('%25' can never be followed by a sequence that
    * decodes early — after escaping, every '%' starts one of the four
    * codes, so the three structure bytes decode before '%25' without
    * ever manufacturing a false match). All four rewrites are plain
    * (non-regex) `replace`, codegen'd. Line-atomic records are the whole
    * 100 TB point: newline-framed text splits on block boundaries, so a
    * shard is readable by ANY line-oriented tool (the reference's own
    * mappers read lines — distwc.c) and Spark scans it with one split
    * per 128 MB instead of one reader per file. */
  private[graft] def escLine(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(replace(replace(replace(c,
      lit("%"), lit("%25")),
      lit("\n"), lit("%0A")),
      lit("\r"), lit("%0D")),
      lit("\t"), lit("%09"))

  /** Inverse of [[escLine]]: structure bytes first, '%25' last. */
  private[graft] def unescLine(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(replace(replace(replace(c,
      lit("%0A"), lit("\n")),
      lit("%0D"), lit("\r")),
      lit("%09"), lit("\t")),
      lit("%25"), lit("%"))

  /** PLAIN-TEXT round-trip behind the manifest gate — the reference's
    * actual I/O format (distwc.c mappers read lines of text files) as a
    * first-class source/sink: documents serialized one-per-line as
    * `doc_id<TAB>n_chars<TAB>escaped_text` into 16 djb2-sharded text
    * files (`partitionBy(shard)`, hive-style dirs), READ BACK with
    * `spark.read.text`, decoded DECLARATIVELY (one `split` on the two
    * structural tabs + [[unescLine]] — all codegen'd, no UDF), and the
    * [[manifestAgg]] of the re-read rows must hash-equal [[manifestSql]]
    * computed straight off parquet. A green entry certifies byte-exact
    * text fidelity through escape → write → split-discovery → decode.
    * Scale shape: records are line-atomic ([[escLine]]), so at 100 TB
    * the text shards split per-block like parquet does — unlike
    * multiLine CSV/JSON, which force one reader per file. */
  def textRoundtrip(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_text_rt_") { out =>
      graft.Tables.documents(s, d)
        .select(concat(col("doc_id").cast("string"), lit("\t"),
            col("n_chars").cast("string"), lit("\t"),
            escLine(col("text"))).as("value"),
          bucket.as("shard"))
        .write.mode("overwrite").partitionBy("shard").text(out)
      val parts = split(col("value"), "\t", 3)
      val back = s.read.text(out)
        .select(parts.getItem(0).cast("long").as("doc_id"),
          parts.getItem(1).cast("long").as("n_chars"),
          unescLine(parts.getItem(2)).as("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** JSON-LINES round-trip behind the manifest gate — the interchange
    * format LLM corpora actually ship in (one JSON object per line):
    * documents written as djb2-sharded `.json` (Spark's JSON sink is
    * line-delimited, so records stay line-atomic and the shards stay
    * block-splittable at 100 TB), read back with an EXPLICIT schema —
    * at scale, schema inference is a full extra pass over the corpus,
    * so a production reader always pins the schema — and manifest-
    * hash-compared against [[manifestSql]]. JSON string escaping (`\n`,
    * `\t`, `\uXXXX`) is exercised by the sink/source pair itself; the
    * green hash says Spark's JSON writer and reader agree byte-for-byte
    * with the parquet original. */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_jsonl_rt_") { out =>
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
        .write.mode("overwrite").partitionBy("shard").json(out)
      val back = s.read.schema("doc_id LONG, n_chars LONG, text STRING").json(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** CSV round-trip behind the manifest gate — the interchange format
    * where corpus data actually gets LOST: embedded delimiters, quotes
    * and record separators silently shear rows apart unless the
    * quote/escape contract is honored on BOTH sides. The corpus text
    * is CSV-benign (spec-checked), so four HOSTILE rows are planted
    * on reserved shards — embedded commas, embedded quotes (RFC 4180
    * doubled-quote escaping), an embedded LF, and a CRLF+tab — and the
    * whole union goes through `write.csv` → `read.csv` with the
    * explicit quote=escape='"' contract and `multiLine=true` (required
    * for quoted record separators — and the documented scale trade:
    * multiLine CSV is NOT block-splittable, one reader per file, which
    * is exactly why production corpora ship JSONL instead; this
    * certificate is the receipts for that policy). The planted shards'
    * manifest hashes pin byte-exact survival of every hostile class. */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val session = s
    import session.implicits._
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    val planted = Seq(
      (1000000001L, "comma, separated, values", 90),
      (1000000002L, "he said \"quote\" loudly", 91),
      (1000000003L, "line one\nline two", 92),
      (1000000004L, "crlf\r\nand\ttab", 93))
      .toDF("doc_id", "text", "shard")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        col("text"), col("shard"))
    val all = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
      .unionByName(planted)
    graft.Scratch.withDir("graft_csv_rt_") { out =>
      all.write.mode("overwrite")
        .option("quote", "\"").option("escape", "\"")
        .partitionBy("shard").csv(out)
      // lineSep is PINNED on the read: with it unset, univocity's
      // line-separator auto-detection normalizes a quoted \r\n to \n
      // (measured — the writer's bytes are lossless, the default
      // reader is not); an explicit separator disables detection and
      // the CRLF row survives byte-exact
      val back = s.read.schema("doc_id LONG, n_chars LONG, text STRING")
        .option("quote", "\"").option("escape", "\"")
        .option("multiLine", "true").option("lineSep", "\n")
        .csv(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** [[manifestSql]] plus the four planted hostile shards, reconstructed
    * literally (chr(10)/chr(13)/chr(9) for the record-separator bytes). */
  val csvRoundtripSql: String = {
    def planted(shard: Int, id: Long, t: String) =
      s"""SELECT $shard AS shard, 1 AS n_docs,
         |  CAST(length($t) AS BIGINT) AS total_chars,
         |  md5('$id:' || md5($t)) AS manifest_md5 FROM (SELECT 1)""".stripMargin
    s"""WITH b AS (
       |  SELECT doc_id, n_chars, md5(text) AS fp,
       |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard
       |  FROM documents
       |)
       |SELECT * FROM (
       |  SELECT shard, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || fp, ',' ORDER BY doc_id)) AS manifest_md5
       |  FROM b GROUP BY shard
       |  UNION ALL ${planted(90, 1000000001L, "'comma, separated, values'")}
       |  UNION ALL ${planted(91, 1000000002L, "'he said \"quote\" loudly'")}
       |  UNION ALL ${planted(92, 1000000003L, "'line one' || chr(10) || 'line two'")}
       |  UNION ALL ${planted(93, 1000000004L, "'crlf' || chr(13) || chr(10) || 'and' || chr(9) || 'tab'")}
       |) ORDER BY shard""".stripMargin
  }

  /** GZIP-COMPRESSED JSONL round-trip — the format LLM corpora
    * actually ship in (`.jsonl.gz` shards): [[jsonlRoundtrip]]'s sink/
    * source pair with the gzip codec engaged on both sides (write via
    * `compression=gzip`, read transparently by extension), behind the
    * same manifest hash gate, PLUS the codec's scale trade surfaced as
    * a pinned column: gzip is NOT SPLITTABLE, so each `.json.gz` file
    * is exactly one read task regardless of size — `n_files` per shard
    * (distinct `_metadata.file_path` on the read back) is pinned to 1,
    * which is precisely why shard SIZING is the parallelism knob for
    * gz corpora (1000 shards = 1000 tasks, however big the files; one
    * 100 GB gz file = one task, the classic ingest stall). A green
    * hash says writer and reader agree byte-for-byte through the
    * compression boundary. */
  def gzipRoundtrip(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_gzip_rt_") { out =>
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
        .repartition(col("shard"))
        .write.mode("overwrite").option("compression", "gzip")
        .partitionBy("shard").json(out)
      val back = s.read.schema("doc_id LONG, n_chars LONG, text STRING").json(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"),
          col("_metadata.file_path").as("fp_file"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back.drop("fp_file"))
        .join(back.groupBy("shard")
          .agg(countDistinct(col("fp_file")).as("n_files")), "shard")
        .orderBy("shard")
    }
  }

  /** Oracle: the manifest replay + the one-gz-file-per-shard pin.
    * (lazy: `manifestSql` is initialized later in the object body). */
  lazy val gzipRoundtripSql: String =
    s"""WITH m AS ($manifestSql)
       |SELECT shard, n_docs, total_chars, manifest_md5,
       |  CAST(1 AS BIGINT) AS n_files
       |FROM m ORDER BY shard""".stripMargin

  /** RIGHT-TO-BE-FORGOTTEN — surgical delete across a sharded corpus
    * (the GDPR/CCPA erasure job every data holder runs, and at 100 TB
    * the naive form is a full-corpus rewrite): given a delete list
    * (doc_id % 97 == 0 — deterministic so the oracle knows it), the
    * job plans which shard files actually CONTAIN a listed doc (a
    * driver-side distinct over the delete list's shard keys — the
    * p_zorder manifest discipline) and rewrites ONLY those files with
    * an anti-join; every other file is untouched, asserted in-query by
    * comparing the untouched shards' (file name, size) lists before
    * and after. A second in-query gate re-reads the table and fails if
    * ANY listed doc survived — erasure must be provable, not assumed.
    *
    * Oracle-pinned per shard: pre/post doc counts, deletions,
    * `rewritten` (exactly the shards the delete list touches), and the
    * survivors' manifest md5 — the [[manifest]] hash over the
    * post-delete corpus, so a rewrite that drops or duplicates an
    * innocent bystander row flips the gate. */
  def forget(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_forget_") { out =>
      val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
      val docs = graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
      docs.repartition(col("shard")).write.mode("overwrite").partitionBy("shard").parquet(out)
      def fileList(sh: Int): Seq[(String, Long)] =
        Option(new java.io.File(s"$out/shard=$sh").listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
      // surgical PLAN: which shards hold a listed doc (driver-side,
      // shard-count-sized — the table format's manifest decision)
      val affected = docs.filter(col("doc_id") % 97 === 0)
        .select("shard").distinct().collect().map(_.getAs[Int]("shard")).toSet
      val untouchedBefore = (0 until 16).filterNot(affected).map(sh => sh -> fileList(sh))
      // Shard rewrites are INDEPENDENT single-file jobs on disjoint
      // directories — submit them from futures so the scheduler overlaps
      // their short stages (guide §2.6 "overlap independent jobs")
      // instead of paying ~16 sequential job+commit latencies. Exactly
      // the d_width_sweep concurrency discipline: the futures race only
      // on job submission, each owns its shard=N directory and tmp path.
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val rewrites: Seq[Future[Unit]] = affected.toSeq.sorted.map { sh =>
          Future {
            val dir = s"$out/shard=$sh"
            val tmp = s"$out/_rewrite_$sh"
            s.read.parquet(dir).filter(col("doc_id") % 97 =!= 0)
              .coalesce(1).write.mode("overwrite").parquet(tmp)
            graft.Scratch.rmTree(dir)
            java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
              java.nio.file.Paths.get(dir))
            ()
          }
        }
        rewrites.foreach(f => Await.result(f, Duration.Inf))
      }
      untouchedBefore.foreach { case (sh, before) =>
        if (fileList(sh) != before)
          throw new IllegalStateException(
            s"shard $sh was not in the delete plan but its files changed — rewrite is not surgical")
      }
      val back = s.read.option("basePath", out).parquet(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      // the erasure gate: no listed doc may survive
      if (back.filter(col("doc_id") % 97 === 0).limit(1).count() > 0)
        throw new IllegalStateException("a listed doc survived the forget job")
      val before = docs.groupBy("shard").agg(count(lit(1)).as("n_before"))
      val after = manifestAgg(back)
        .select(col("shard"), col("n_docs").as("n_after"),
          col("total_chars"), col("manifest_md5"))
      before.join(after, Seq("shard"), "left")
        .select(col("shard"), col("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_deleted"),
          col("shard").isin(affected.toSeq: _*).as("rewritten"),
          coalesce(col("total_chars"), lit(0L)).as("total_chars"),
          coalesce(col("manifest_md5"), lit("")).as("manifest_md5"))
        .orderBy("shard")
    }
  }

  /** SQL twin: the [[manifestSql]] CTE with the delete predicate. */
  val forgetSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, n_chars, md5(text) AS fp,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard
      |  FROM documents
      |), pre AS (
      |  SELECT shard, count(*) AS n_before FROM b GROUP BY shard
      |), post AS (
      |  SELECT shard, count(*) AS n_after, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || fp, ',' ORDER BY doc_id)) AS manifest_md5
      |  FROM b WHERE doc_id % 97 <> 0 GROUP BY shard
      |), aff AS (SELECT DISTINCT shard FROM b WHERE doc_id % 97 = 0)
      |SELECT pre.shard, pre.n_before,
      |  coalesce(post.n_after, 0) AS n_after,
      |  pre.n_before - coalesce(post.n_after, 0) AS n_deleted,
      |  pre.shard IN (SELECT shard FROM aff) AS rewritten,
      |  coalesce(post.total_chars, 0) AS total_chars,
      |  coalesce(post.manifest_md5, '') AS manifest_md5
      |FROM pre LEFT JOIN post USING (shard)
      |ORDER BY shard""".stripMargin

  /** TIME TRAVEL over a transaction log — the table-format kernel
    * (Delta/Iceberg snapshot isolation) from primitives: a table
    * directory whose versions are defined ONLY by a commit log
    * (`_graft_log/vN.json`, one add/remove action per line), never by
    * what files happen to exist. Three commits: v1 appends the even
    * docs (4 files), v2 appends the odd docs (4 files), v3 COMPACTS
    * v1's files (removes all four, adds one rewritten file with
    * byte-identical content). A reader "as of v" replays the log —
    * live files = adds≤v − removes≤v, a driver-side decision over a
    * commit-count-sized log, exactly how every table format plans —
    * and reads precisely those parquet files, `basePath`-free.
    *
    * Oracle-pinned: per version, doc count, char total, and an
    * order-proof content hash (md5 of the doc_id:text-md5 string in
    * doc_id order) — v1 must equal the even half, v2 the whole corpus,
    * and v3 must HASH-EQUAL v2 (`compaction_invariant` flag): the
    * compaction moved bytes, not data, and old snapshots stay
    * readable after it (v1/v2 replays still resolve their own file
    * sets). The concurrent-writer story (atomic log append wins) is
    * out of scope — single-writer commits, like the engine's other
    * write paths. */
  /** Build the 3-version transaction-log layout [[timeTravel]] and
    * [[vacuum]] share: v1 adds 4 even-doc files, v2 adds 4 odd-doc
    * files, v3 compacts the evens into one file and removes v1's
    * four. Returns nothing; the layout lives under `out` with the
    * JSONL log in `logDir`. */
  private def buildVersionedLayout(
      s: SparkSession, d: String, out: String, logDir: java.io.File): Unit = {
    val docs = graft.Tables.documents(s, d).select("doc_id", "n_chars", "text")
    // per-file writes within a version are independent single-file jobs
    // on disjoint tmp dirs — overlap them (Shared.awaitAll, guide §2.6)
    def writeFiles(df: DataFrame, names: Seq[String]): Unit = {
      graft.operators.Shared.awaitAll[Unit](names.zipWithIndex.map { case (name, i) => () =>
        // split on (doc_id div 2) so BOTH parity halves spread over
        // all n files (an even doc_id mod 4 can only be 0 or 2 —
        // keying on it directly would write empty files)
        df.filter(expr(s"(doc_id div 2) % ${names.length}") === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/tmp_$name")
        val part = new java.io.File(s"$out/tmp_$name").listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(out, s"$name.parquet").toPath)
        graft.Scratch.rmTree(s"$out/tmp_$name")
      })
      ()
    }
    def commit(v: Int, adds: Seq[String], removes: Seq[String]): Unit = {
      val lines =
        adds.map(f => s"""{"version":$v,"action":"add","file":"$f.parquet"}""") ++
          removes.map(f => s"""{"version":$v,"action":"remove","file":"$f.parquet"}""")
      java.nio.file.Files.writeString(
        new java.io.File(logDir, f"v$v%05d.json").toPath, lines.mkString("\n") + "\n")
      ()
    }
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    val v1Files = (0 until 4).map(i => s"ev_$i")
    writeFiles(evens, v1Files); commit(1, v1Files, Nil)
    val v2Files = (0 until 4).map(i => s"od_$i")
    writeFiles(odds, v2Files); commit(2, v2Files, Nil)
    writeFiles(evens, Seq("compact_ev")); commit(3, Seq("compact_ev"), v1Files)
  }

  /** The transaction log's actions, read once per query. The commit
    * files (`vNNNNN.json`) are listed and passed explicitly: reading the
    * `_graft_log` directory itself makes Spark treat it as hidden (the
    * `_` prefix) and warn on every read. */
  private def readLog(s: SparkSession, logDir: java.io.File): Array[org.apache.spark.sql.Row] =
    s.read
      .schema("version INT, action STRING, file STRING")
      .json(logDir.listFiles().filter(_.getName.matches("v\\d{5}\\.json"))
        .map(_.toString).sorted.toSeq: _*)
      .collect()

  /** Resolve the file set live at version `v` from the log alone (adds
    * up to v, minus removes up to v) — the reader the table formats run
    * on every query. */
  private def liveFilesAt(log: Array[org.apache.spark.sql.Row], v: Int): Seq[String] = {
    val upTo = log.filter(_.getAs[Int]("version") <= v)
    val removed = upTo.filter(_.getAs[String]("action") == "remove")
      .map(_.getAs[String]("file")).toSet
    upTo.filter(_.getAs[String]("action") == "add")
      .map(_.getAs[String]("file")).filterNot(removed).toSeq.sorted
  }

  def timeTravel(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_tt_") { out =>
      val logDir = new java.io.File(out, "_graft_log"); logDir.mkdirs()
      buildVersionedLayout(s, d, out, logDir)
      val log = readLog(s, logDir)
      def snapshot(v: Int): DataFrame =
        s.read.parquet(liveFilesAt(log, v).map(f => s"$out/$f"): _*)
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
            md5(to_binary(array_join(
              transform(array_sort(collect_list(struct(col("doc_id"),
                  md5(to_binary(col("text"), lit("utf-8"))).as("fp")))),
                x => concat(x.getField("doc_id").cast("string"), lit(":"), x.getField("fp"))),
              ","), lit("utf-8"))).as("content_md5"))
          .select(lit(v).as("version"), col("n_docs"), col("total_chars"), col("content_md5"))
      val snaps = (1 to 3).map(snapshot).reduce(_ unionByName _).localCheckpoint() // keep: outlives
      val v2v3 = snaps.filter(col("version") >= 2)
        .agg((countDistinct("content_md5") === 1).as("compaction_invariant"))
      snaps.crossJoin(broadcast(v2v3)).orderBy("version")
    }
  }

  val timeTravelSql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars, doc_id || ':' || md5(text) AS entry FROM documents
      |), v1 AS (
      |  SELECT 1 AS version, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    md5(string_agg(entry, ',' ORDER BY doc_id)) AS content_md5
      |  FROM h WHERE doc_id % 2 = 0
      |), vall AS (
      |  SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    md5(string_agg(entry, ',' ORDER BY doc_id)) AS content_md5
      |  FROM h
      |)
      |SELECT version, n_docs, total_chars, content_md5, TRUE AS compaction_invariant FROM v1
      |UNION ALL
      |SELECT 2, n_docs, total_chars, content_md5, TRUE FROM vall
      |UNION ALL
      |SELECT 3, n_docs, total_chars, content_md5, TRUE FROM vall
      |ORDER BY version""".stripMargin

  /** TWO-LEVEL MANIFEST PLANNING (the Iceberg/Delta-manifest kernel,
    * completing the table-format family beside [[timeTravel]]'s JSONL
    * log and [[zorder]]'s min-max skipping): data files carry
    * per-file stats in a MANIFEST, manifests carry partition values +
    * aggregated stats in a MANIFEST LIST, and query planning walks the
    * tree top-down — manifest-list row → partition-prune whole
    * manifests (their files are never even LISTED), surviving
    * manifest → min/max-prune files, surviving files → scan. That
    * two-level cut is what makes 100 TB planning O(manifests) driver
    * work instead of O(files): a million-file table has ~thousands of
    * manifest rows. Layout here: parity is the partition (2
    * manifests), each partition range-split into doc_id quartile
    * files with real (rows, min, max, Σchars) stats; the probe query
    * (odd parity ∧ doc_id ∈ [mx/2, 3·mx/4)) partition-prunes the even
    * manifest and range-prunes most odd files. Planning is
    * driver-side over MANIFEST ROWS only (≤ 2 + 4 rows — the
    * [[zorder]] discipline: driver over manifest entries, never
    * data); `prune_sound` pins the pruned scan's aggregates equal to
    * the full predicate's (a wrong min/max or a mis-pruned file flips
    * it), and the scan counts are read from the REAL surviving
    * parquet, certifying the manifests describe the files that were
    * actually written. */
  def icebergManifest(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_icb_") { out =>
      val docs = graft.Tables.documents(s, d).select("doc_id", "n_chars", "text")
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val lo = mx / 2
      val hi = 3 * (mx / 4)
      val keyed = docs
        .withColumn("parity", col("doc_id") % 2)
        .withColumn("q", expr(s"(doc_id * 4) div ${mx + 1}"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
      // per-file stats BEFORE writing — bounded: 8 manifest entries
      val stats = keyed.groupBy("parity", "q")
        .agg(count(lit(1)).as("n_rows"), min("doc_id").as("mn"),
          max("doc_id").as("mxid"), sum("n_chars").as("sc"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(t => (t._1, t._2))
      // 8 independent single-file writes from the persisted frame —
      // overlap them (Shared.awaitAll, guide §2.6)
      graft.operators.Shared.awaitAll[Unit](stats.toSeq.map { case (p, q, _, _, _, _) => () =>
        keyed.filter(col("parity") === p && col("q") === q)
          .select("doc_id", "n_chars", "text")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/p${p}_q$q")
      })
      val manifestDir = new java.io.File(out, "_manifests"); manifestDir.mkdirs()
      stats.groupBy(_._1).foreach { case (p, fs) =>
        val lines = fs.map { case (_, q, n, mn, mxid, sc) =>
          s"""{"file":"p${p}_q$q","n_rows":$n,"mn":$mn,"mx":$mxid,"sc":$sc}"""
        }
        java.nio.file.Files.writeString(
          new java.io.File(manifestDir, s"manifest_p$p.json").toPath,
          lines.mkString("\n") + "\n")
      }
      val listLines = stats.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, fs) =>
        s"""{"manifest":"manifest_p$p.json","parity":$p,"n_files":${fs.length},""" +
          s""""n_rows":${fs.map(_._3).sum},"mn":${fs.map(_._4).min},"mx":${fs.map(_._5).max}}"""
      }
      java.nio.file.Files.writeString(
        new java.io.File(out, "manifest_list.json").toPath,
        listLines.mkString("\n") + "\n")
      // ---- PLANNING: manifest-list rows only (driver, ≤ 2) ----
      val mlist = s.read.schema("manifest STRING, parity LONG, n_files LONG, n_rows LONG, mn LONG, mx LONG")
        .json(s"$out/manifest_list.json").collect()
      val readManifests = mlist.filter(_.getAs[Long]("parity") == 1L)
      // surviving manifests' file rows (driver, ≤ 4)
      val fileRows = readManifests.flatMap { m =>
        s.read.schema("file STRING, n_rows LONG, mn LONG, mx LONG, sc LONG")
          .json(new java.io.File(manifestDir, m.getAs[String]("manifest")).toString)
          .collect()
      }
      val survivors = fileRows.filter(f =>
        f.getAs[Long]("mx") >= lo && f.getAs[Long]("mn") < hi)
      // scan only the surviving REAL files; compute the result and the
      // scan cost from the files themselves, not the manifests.
      // Degenerate-corpus guards (ADVICE r8): zero survivors means a
      // zero-scan result row, not a zero-path parquet read; a probe
      // range holding no odd docs leaves sum(n_chars) null — read
      // through the same coalesce-to-0 the SQL twin applies.
      def agg0(r: org.apache.spark.sql.Row): (Long, Long) =
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      val (nScanned, resN, resSc) =
        if (survivors.isEmpty) (0L, 0L, 0L)
        else {
          val scanned = s.read.parquet(survivors.map(f => s"$out/${f.getAs[String]("file")}"): _*)
          val n = scanned.count()
          val (rn, rsc) = agg0(scanned.filter(col("doc_id") % 2 === 1 &&
              col("doc_id") >= lo && col("doc_id") < hi)
            .agg(count(lit(1)).as("n"), sum("n_chars").as("sc")).head())
          (n, rn, rsc)
        }
      // soundness oracle: the same predicate over the full table
      val (fullN, fullSc) = agg0(keyed.filter(col("parity") === 1 &&
          col("doc_id") >= lo && col("doc_id") < hi)
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sc")).head())
      keyed.unpersist(blocking = false)
      val session = s
      import session.implicits._
      Seq((mlist.length.toLong, readManifests.length.toLong,
        fileRows.length.toLong, survivors.length.toLong, nScanned,
        resN, resSc, resN == fullN && resSc == fullSc))
        .toDF("n_manifests_total", "n_manifests_read", "n_files_listed",
          "n_files_scanned", "n_rows_scanned", "n_rows_result",
          "sum_chars_result", "prune_sound")
    }
  }

  /** SQL twin: the manifest tree replayed analytically from the table
    * (stats per (parity, quartile) group = the manifests' content). */
  val icebergManifestSql: String =
    """WITH b AS (
      |  SELECT max(doc_id) AS mx, max(doc_id) // 2 AS lo,
      |    3 * (max(doc_id) // 4) AS hi FROM documents
      |), f AS (
      |  SELECT doc_id % 2 AS parity, (doc_id * 4) // (mx + 1) AS q,
      |    doc_id, n_chars, lo, hi
      |  FROM documents, b
      |), files AS (
      |  SELECT parity, q, CAST(count(*) AS BIGINT) AS n_rows,
      |    min(doc_id) AS mn, max(doc_id) AS mxid
      |  FROM f GROUP BY parity, q
      |), scanned AS (
      |  SELECT fl.* FROM files fl, b WHERE parity = 1 AND mxid >= lo AND mn < hi
      |), res AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows_result,
      |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars_result
      |  FROM f WHERE parity = 1 AND doc_id >= lo AND doc_id < hi
      |)
      |SELECT CAST(2 AS BIGINT) AS n_manifests_total,
      |  CAST(1 AS BIGINT) AS n_manifests_read,
      |  (SELECT CAST(count(*) AS BIGINT) FROM files WHERE parity = 1) AS n_files_listed,
      |  (SELECT CAST(count(*) AS BIGINT) FROM scanned) AS n_files_scanned,
      |  (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) FROM scanned) AS n_rows_scanned,
      |  res.n_rows_result, res.sum_chars_result, TRUE AS prune_sound
      |FROM res""".stripMargin

  /** DATA-CONTRACT VALIDATION — the dbt-test / Great-Expectations
    * gate every production pipeline runs before publishing a batch
    * (distinct from [[corruptRecords]], which quarantines unparseable
    * ROWS; this checks SEMANTIC constraints on parsed data): range,
    * referential integrity, primary-key uniqueness, non-null, and
    * enum-domain checks, each emitted as (constraint, n_checked,
    * n_violations, pass). Each check is one scan-shaped aggregate;
    * the expensive one at 100 TB is RI — a fact-side anti-join
    * against the parent keys, the honest cost of proving "every line
    * belongs to an order" (the q61 bloom-filter lever applies to it
    * unchanged). PK uniqueness is count vs count-distinct on one
    * aggregate — no self-join. */
  def dataContract(s: SparkSession, d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d)
    val ord = graft.Tables.orders(s, d)
    def check(name: String, checked: org.apache.spark.sql.Column,
        violations: org.apache.spark.sql.Column, src: DataFrame): DataFrame =
      src.agg(checked.as("n_checked"), violations.as("n_violations"))
        .select(lit(name).as("rule"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).as("pass"))
    val qtyRange = check("qty_range", count(lit(1)),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)), li)
    val notNull = check("date_not_null", count(lit(1)),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)), ord)
    val enumDomain = check("priority_domain", count(lit(1)),
      sum(when(col("o_orderpriority").isin(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 0L)
        .otherwise(1L)), ord)
    // PK uniqueness: one aggregate, no self-join
    val pkUnique = ord.agg(count(lit(1)).as("n"), countDistinct("o_orderkey").as("nd"))
      .select(lit("pk_unique").as("rule"), col("n").as("n_checked"),
        (col("n") - col("nd")).as("n_violations"),
        (col("n") === col("nd")).as("pass"))
    // RI: every lineitem's order exists — the anti-join cost is the check
    val orphans = li.select("l_orderkey")
      .join(ord.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    val riTotal = li.agg(count(lit(1)).as("n_checked"))
    val ri = riTotal.crossJoin(broadcast(orphans))
      .select(lit("ri_orders").as("rule"), col("n_checked"),
        col("n_violations"), (col("n_violations") === 0L).as("pass"))
    Seq(qtyRange, notNull, enumDomain, pkUnique, ri)
      .reduce(_ unionByName _)
      .orderBy("rule")
  }

  val dataContractSql: String =
    """WITH checks AS (
      |  SELECT 'qty_range' AS rule, count(*) AS n_checked,
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_violations
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'date_not_null', count(*),
      |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'priority_domain', count(*),
      |    CAST(sum(CASE WHEN o_orderpriority IN
      |      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
      |      THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'pk_unique', count(*),
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'ri_orders', (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
      |       ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
      |)
      |SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
      |FROM checks ORDER BY rule""".stripMargin

  /** VACUUM — orphan-file GC, the third quarter of the table-format
    * kernel ([[timeTravel]] reads snapshots from the log, [[forget]]
    * rewrites only delete-list shards, this reclaims what no snapshot
    * the retention policy keeps can reach): files present on disk but
    * NOT live at the current version are deleted — nothing else. The
    * certificate is both directions: the current snapshot's content
    * hash is byte-identical before/after (vacuum may not touch a live
    * file), and the orphan count matches the log's removed set
    * exactly (vacuum may not leave garbage). At 100 TB vacuum is what
    * keeps storage from growing without bound under compaction
    * churn; the failure mode it guards — deleting a file a reader
    * still resolves — is the worst data-loss bug a lakehouse has. */
  def vacuum(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_vac_") { out =>
      val logDir = new java.io.File(out, "_graft_log"); logDir.mkdirs()
      buildVersionedLayout(s, d, out, logDir)
      val live = liveFilesAt(readLog(s, logDir), 3).toSet
      def snapshotMd5(): org.apache.spark.sql.Row =
        s.read.parquet(live.toSeq.sorted.map(f => s"$out/$f"): _*)
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
            md5(to_binary(array_join(
              transform(array_sort(collect_list(struct(col("doc_id"),
                  md5(to_binary(col("text"), lit("utf-8"))).as("fp")))),
                x => concat(x.getField("doc_id").cast("string"), lit(":"), x.getField("fp"))),
              ","), lit("utf-8"))).as("content_md5"))
          .collect()(0)
      val before = snapshotMd5()
      val onDisk = new java.io.File(out).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSeq.sorted
      val orphans = onDisk.filterNot(live)
      orphans.foreach(f => java.nio.file.Files.delete(new java.io.File(out, f).toPath))
      val after = snapshotMd5()
      val afterDisk = new java.io.File(out).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      import s.implicits._
      Seq((onDisk.length.toLong, orphans.length.toLong, afterDisk.toLong,
          after.getAs[Long]("n_docs"), after.getAs[Long]("total_chars"),
          after.getAs[String]("content_md5"),
          before.getAs[String]("content_md5") == after.getAs[String]("content_md5")))
        .toDF("files_before", "orphans_deleted", "files_after",
          "n_docs", "total_chars", "content_md5", "live_intact")
    }
  }

  /** Analytic twin: the layout's arithmetic (4+4+1 files, 4 orphans)
    * plus the full-corpus content hash the compacted current snapshot
    * must still serve after GC. */
  val vacuumSql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars, doc_id || ':' || md5(text) AS entry FROM documents
      |)
      |SELECT CAST(9 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS orphans_deleted,
      |  CAST(5 AS BIGINT) AS files_after,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  md5(string_agg(entry, ',' ORDER BY doc_id)) AS content_md5,
      |  TRUE AS live_intact
      |FROM h""".stripMargin

  /** CDC CHANGELOG APPLY — materializing a keyed table from an ordered
    * change stream (the Debezium/binlog consumer every warehouse runs;
    * [[graft.operators.RelationalExt.q30MergeUpsert]] is one MERGE
    * batch, this is the full replay): events are read as a per-user
    * changelog — 'error' rows are DELETE tombstones, everything else
    * an UPSERT row image — and the final table state is, per key, the
    * image of the max-(ts, event_id) operation, absent if that
    * operation is a delete. The formulation is the scale story: apply
    * is ONE associative struct-max aggregate (last-writer-wins is
    * `max(struct(seq, image))` — partial-aggregable, merges map-side,
    * no per-key window SORT of the whole history), so replaying a
    * 10-billion-row changelog costs a wordcount, and the same
    * aggregate maintains the table INCREMENTALLY (merge yesterday's
    * per-key max with today's — the p_incremental property). `n_ops`
    * audits history depth per surviving key. */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    val log = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * lit(100)).cast("long").as("value_c"))
    log.groupBy("user_id")
      .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"), col("value_c")))
          .as("last"),
        count(lit(1)).as("n_ops"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value_c").as("last_value_c"),
        date_format(expr("timestamp_micros(last.ts_us)"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("n_ops"))
      .orderBy("user_id")
  }

  /** SQL twin: the windowed argmax formulation — provably the same
    * row, exercising the equivalence the aggregate form relies on. */
  val cdcApplySql: String =
    """WITH c AS (
      |  SELECT user_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS value_c,
      |    CAST(ts AS TIMESTAMP) AS ts,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events
      |), n AS (SELECT user_id, count(*) AS n_ops FROM events GROUP BY 1)
      |SELECT c.user_id, c.event_type AS last_event_type, c.value_c AS last_value_c,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_ts, n.n_ops
      |FROM c JOIN n USING (user_id)
      |WHERE rn = 1 AND c.event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** SCD TYPE-2 DIMENSION BUILD — [[cdcApply]]'s history-keeping twin
    * (the warehouse's other changelog consumer: Kimball's slowly
    * changing dimension). Where cdcApply keeps only the last image,
    * SCD2 keeps one row per STATE EPISODE with a validity interval:
    * consecutive same-state operations collapse (run-length encoding
    * by key), a state change closes the open interval and opens a new
    * one, and the final row per key stays open (`is_current`).
    *
    * Plan shape is the scale story: ONE shuffle on the key, then two
    * intra-partition window passes (lag to mark change points, then a
    * running count + lead over the surviving change rows) — no global
    * sort, per-key history is partition-local, and the state carried
    * per row is O(1). A 10-billion-row changelog costs one shuffle of
    * itself, which is the floor for any order-sensitive compaction.
    * Output: per (user, version) episode with micros-exact interval
    * bounds and the episode's operation count. */
  def scd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val log = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    // change points: first op per key, or state differs from previous op
    val marked = log
      .withColumn("prev_state", lag(col("event_type"), 1).over(byKey))
      .withColumn("is_change",
        col("prev_state").isNull || col("prev_state") =!= col("event_type"))
    // count ops per episode BEFORE dropping non-change rows: an op
    // belongs to the latest change point at-or-before it
    val withEpisode = marked
      .withColumn("version",
        sum(when(col("is_change"), 1L).otherwise(0L)).over(byKey))
    val episodes = withEpisode
      .groupBy("user_id", "version")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("opened"),
        // every op in an episode shares the state by construction;
        // min (not first) keeps the aggregate order-insensitive
        min(col("event_type")).as("state"),
        count(lit(1)).as("n_ops"))
      .select(col("user_id"), col("version"), col("state"), col("n_ops"),
        col("opened.ts_us").as("from_us"))
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    episodes
      .withColumn("to_us", lead(col("from_us"), 1).over(byVersion))
      .select(col("user_id"), col("version"), col("state"), col("n_ops"),
        date_format(expr("timestamp_micros(from_us)"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(expr("timestamp_micros(to_us)"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("to_us").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** SQL twin: same two-window formulation in DuckDB dialect. */
  val scd2Sql: String =
    """WITH log AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events
      |), marked AS (
      |  SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |    THEN 1 ELSE 0 END AS is_change
      |  FROM log WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), ep AS (
      |  SELECT *, sum(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS version
      |  FROM marked
      |), episodes AS (
      |  SELECT user_id, version, min(event_type) AS state, count(*) AS n_ops,
      |    min(ts) AS from_ts
      |  FROM ep GROUP BY user_id, version
      |)
      |SELECT user_id, CAST(version AS BIGINT) AS version, state,
      |  CAST(n_ops AS BIGINT) AS n_ops,
      |  strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  strftime(lead(from_ts) OVER v, '%Y-%m-%d %H:%M:%S') AS valid_to,
      |  lead(from_ts) OVER v IS NULL AS is_current
      |FROM episodes WINDOW v AS (PARTITION BY user_id ORDER BY version)
      |ORDER BY user_id, version""".stripMargin

  /** Bloom hash family for [[bloomIndex]]: k=3 integer hashes into
    * m=4096 bits, stored as 128 32-bit words (32, not 64, so no mask
    * ever touches the sign bit — `&`/`==` comparisons stay trivially
    * portable). h_i(x) = ((x·A_i + B_i) mod P) mod 4096 with Knuth/
    * xxhash-prime multipliers and P = 1e9+7 — pure BIGINT arithmetic
    * both engines evaluate bit-identically (products stay < 2^63 for
    * any id the generator emits). */
  private val bloomHashes = Seq((2654435761L, 1L), (2246822519L, 2L), (3266489917L, 3L))

  private def bloomPositions(key: String): String =
    bloomHashes.map { case (a, b) => s"(($key * ${a}L + ${b}L) % 1000000007L) % 4096L" }
      .mkString("array(", ", ", ")")

  private def bloomPositionsSql(key: String): String =
    bloomHashes.map { case (a, b) => s"(($key * $a + $b) % 1000000007) % 4096" }
      .mkString("[", ", ", "]")

  /** PER-FILE BLOOM-FILTER INDEX — the data-skipping lever for POINT
    * LOOKUPS on a key the layout is NOT organized by (q57/q58 prune on
    * the partition key, [[zorder]] on clustered range dimensions; a
    * bloom index is what Parquet/Delta/Iceberg keep for "find these 5
    * ids in a month of files" where min/max stats prune nothing
    * because every file's id range spans everything). events are laid
    * out day-partitioned (the natural ingest order), a 4096-bit/k=3
    * bloom of each file's `event_id`s is built as ONE distributed
    * aggregate (explode 3 positions → `bit_or` per (day, word) — a
    * wordcount, no per-file driver work), and a 5-id lookup consults
    * the index first: only files whose bloom holds ALL of some key's
    * bits are opened.
    *
    * File planning is the [[zorder]] discipline: a driver-side
    * decision over the files-count-sized index (exactly how a table
    * format consults its stats), then a pruned scan whose own
    * `numFiles` metric is the certificate. The bloom arithmetic is
    * integer-only, so the DuckDB oracle rebuilds the SAME index
    * bit-for-bit and pins `files_read` to the candidate count the
    * index implies — false-positive behavior included — while
    * `n_found`/`value_c` pin soundness (a missed true file would drop
    * looked-up rows and flip the gate). */
  def bloomIndex(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_bloomidx_") { out =>
      val e = graft.Tables.events(s, d)
        .select(col("event_id"),
          round(col("value") * lit(100)).cast("long").as("value_c"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      e.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      val layout = s.read.option("basePath", out).parquet(out)
      // index build: one shuffle keyed (day, word), map-side combined
      val idx = layout
        .select(col("day"), explode(expr(bloomPositions("event_id"))).as("p"))
        .select(col("day"), expr("p div 32").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("m"))
        .groupBy("day", "w").agg(expr("bit_or(m)").as("bits"))
        .localCheckpoint() // keep: reuse
      // the lookup set: 5 data-derived ids (deterministic, both engines)
      val keys = e.select(col("event_id").as("k")).distinct()
        .filter(col("k") % 17 === 3).orderBy("k").limit(5)
        .localCheckpoint() // keep: reuse
      // per-key query masks, matched per day iff EVERY word's bits present
      val q = keys
        .select(col("k"), explode(expr(bloomPositions("k"))).as("p"))
        .select(col("k"), expr("p div 32").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("m"))
        .groupBy("k", "w").agg(expr("bit_or(m)").as("qm"))
      val nWords = q.groupBy("k").agg(count(lit(1)).as("n_words"))
      val candDays = q.join(idx, "w")
        .filter((col("bits").bitwiseAND(col("qm"))) === col("qm"))
        .groupBy("k", "day").agg(count(lit(1)).as("n_hit"))
        .join(nWords, "k")
        .filter(col("n_hit") === col("n_words"))
        // partition-type inference reads `day` back as DATE — normalize
        .select(col("day").cast("string").as("day")).distinct()
        .collect().map(_.getAs[String]("day")).sorted
      // pruned scan: only index-selected partitions are opened
      val pruned = s.read.option("basePath", out)
        .parquet(candDays.map(day => s"$out/day=$day"): _*)
        .join(broadcast(keys), col("event_id") === col("k"))
        .agg(count(lit(1)).as("n_found"), sum(col("value_c")).as("value_c"))
      val row = pruned.collect()(0)
      val filesRead = PlanProbeRef.scanMetricSumForPath(pruned, "numFiles", out)
      val filesTotal = idx.select("day").distinct().count()
      val nKeys = keys.count()
      import s.implicits._
      Seq((nKeys, row.getAs[Long]("n_found"), row.getAs[Long]("value_c"),
          filesRead, filesTotal))
        .toDF("n_keys", "n_found", "value_c", "files_read", "files_total")
    }
  }

  /** SQL twin: rebuilds the index with the same integer bloom hashes,
    * so candidate (and thus file) counts match bit-for-bit, false
    * positives included; lookup results come from the direct join. */
  val bloomIndexSql: String =
    s"""WITH e AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS value_c,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
      |  FROM events
      |), keys AS (
      |  SELECT DISTINCT event_id AS k FROM e WHERE event_id % 17 = 3
      |  ORDER BY k LIMIT 5
      |), pos AS (
      |  SELECT day, unnest(${bloomPositionsSql("event_id")}) AS p FROM e
      |), idx AS (
      |  SELECT day, p // 32 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
      |  FROM pos GROUP BY day, w
      |), qpos AS (
      |  SELECT k, unnest(${bloomPositionsSql("k")}) AS p FROM keys
      |), q AS (
      |  SELECT k, p // 32 AS w,
      |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS qm
      |  FROM qpos GROUP BY k, w
      |), nw AS (SELECT k, count(*) AS n_words FROM q GROUP BY k
      |), cand AS (
      |  SELECT q.k, idx.day
      |  FROM q JOIN idx ON q.w = idx.w AND (idx.bits & q.qm) = q.qm
      |  GROUP BY q.k, idx.day
      |  HAVING count(*) = (SELECT n_words FROM nw WHERE nw.k = q.k)
      |), found AS (
      |  SELECT count(*) AS n_found, CAST(sum(value_c) AS BIGINT) AS value_c
      |  FROM e JOIN keys ON e.event_id = keys.k
      |)
      |SELECT (SELECT count(*) FROM keys) AS n_keys, n_found, value_c,
      |  (SELECT count(DISTINCT day) FROM cand) AS files_read,
      |  (SELECT count(DISTINCT day) FROM e) AS files_total
      |FROM found""".stripMargin

  /** Bit-interleave expression for [[zorder]]: 8-bit ranks u8/d8 →
    * 16-bit Morton code, as pure integer arithmetic both engines
    * evaluate identically. `floorDiv` is "div" (Spark SQL) or "//"
    * (DuckDB). */
  /** The Spark-dialect interleave, exposed so the property spec can
    * evaluate the exact expression [[zorder]] plans. */
  private[graft] def zExprForTest: String = zExpr("div")

  private def zExpr(floorDiv: String): String =
    (0 until 8).map { i =>
      s"((u8 $floorDiv ${1 << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + ((d8 $floorDiv ${1 << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** Z-ORDER clustering + MIN/MAX-MANIFEST DATA SKIPPING — the
    * lakehouse file-skipping lever (Delta/Iceberg "stats + OPTIMIZE
    * ZORDER") built from primitives, for predicates on columns the
    * directory layout does NOT partition by (q57/q58 cover that case;
    * most real predicates aren't on the partition key): events are
    * clustered into 16 files by the Morton interleave of two dimension
    * ranks (user_id, day-of-month — each scaled to 8 bits), a per-file
    * min/max STATS MANIFEST is built (the write-side artifact every
    * table format keeps), and a 2-D range query is planned FROM THE
    * MANIFEST — only files whose [min,max] box overlaps the query box
    * are read. File planning is a driver-side decision over a
    * files-count-sized manifest — exactly how Delta/Iceberg plan
    * scans; the data never moves.
    *
    * Oracle-pinned certificate columns: the business aggregate over
    * the PRUNED read must equal DuckDB's full-scan filter (skipping
    * lost nothing — soundness), measured `files_read` (the scan's
    * numFiles) must equal the manifest-overlap count the twin computes
    * from the same integer arithmetic, and `n_overlap_unclustered` —
    * the same query planned against a round-robin (event_id % 16)
    * layout's manifest — shows every file overlapping: the measured
    * argument that CLUSTERING, not the manifest machinery, is what
    * makes stats tight (the p_reshard_cost discipline: compute the gap
    * on your corpus). At 100 TB: a 2-D dashboard predicate reads ~⅓ of
    * a z-ordered table and 100 % of an insertion-ordered one. */
  def zorder(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_zorder_") { out =>
      val e = graft.Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          dayofmonth(col("ts")).cast("long").as("dom"), col("value"))
      val umax = e.agg(max("user_id").as("umax"))
      val ranked = e.crossJoin(broadcast(umax))
        .withColumn("u8", expr("(user_id * 256) div (umax + 1)"))
        .withColumn("d8", expr("((dom - 1) * 256) div 31"))
        .withColumn("zbucket", expr(s"(${zExpr("div")}) div 4096"))
      // the query box: user ∈ [(umax+1)/4, (umax+1)/2], dom ∈ [8, 15]
      val box = umax.select(expr("(umax + 1) div 4").as("lo_u"),
        expr("(umax + 1) div 2").as("hi_u")).collect()(0)
      val (loU, hiU) = (box.getAs[Long]("lo_u"), box.getAs[Long]("hi_u"))
      // r14 (guide §2.6): the unclustered strawman manifest never reads
      // the written layout — overlap its aggregate with the layout write
      // instead of paying the two job latencies back to back
      val overlapped = graft.operators.Shared.awaitAll(Seq[() => Long](
        () => {
          ranked.select("event_id", "user_id", "dom", "value", "zbucket")
            .repartition(col("zbucket"))
            .write.mode("overwrite").partitionBy("zbucket").parquet(out)
          0L
        },
        () => e
          .groupBy((col("event_id") % 16).as("b"))
          .agg(min("user_id").as("mn_u"), max("user_id").as("mx_u"),
            min("dom").as("mn_d"), max("dom").as("mx_d"))
          .filter(col("mx_u") >= loU && col("mn_u") <= hiU &&
            col("mx_d") >= 8 && col("mn_d") <= 15)
          .count()))
      val nOverlapUnclustered = overlapped(1)
      // manifest build: per-file min/max stats (the write-side artifact;
      // here recomputed from the layout, which doubles as a read-back check)
      val layout = s.read.option("basePath", out).parquet(out)
      val manifest = layout.groupBy("zbucket")
        .agg(min("user_id").as("mn_u"), max("user_id").as("mx_u"),
          min("dom").as("mn_d"), max("dom").as("mx_d"))
        .localCheckpoint() // keep: reuse
      // FILE PLANNING: driver-side selection over the ≤16-row manifest —
      // the one place a collect is the design, same as every table format
      val selected = manifest
        .filter(col("mx_u") >= loU && col("mn_u") <= hiU &&
          col("mx_d") >= 8 && col("mn_d") <= 15)
        .select("zbucket").collect().map(_.getAs[Int]("zbucket")).sorted
      val pruned = s.read.option("basePath", out)
        .parquet(selected.map(b => s"$out/zbucket=$b"): _*)
        .filter(col("user_id").between(loU, hiU) && col("dom").between(8, 15))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("value") * lit(100)).cast("long")).as("value_c"))
      val row = pruned.collect()(0)
      val filesRead = PlanProbeRef.scanMetricSumForPath(pruned, "numFiles", out)
      val filesTotal = manifest.count()
      import s.implicits._
      Seq((row.getAs[Long]("n_rows"), row.getAs[Long]("value_c"),
          filesRead, filesTotal, nOverlapUnclustered))
        .toDF("n_rows", "value_c", "files_read", "files_total", "n_overlap_unclustered")
    }
  }

  private val PlanProbeRef = org.apache.spark.sql.graftbridge.PlanProbe

  val zorderSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id,
       |    CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS BIGINT) AS dom, value
       |  FROM events
       |), um AS (SELECT max(user_id) AS umax FROM e
       |), box AS (
       |  SELECT (umax + 1) // 4 AS lo_u, (umax + 1) // 2 AS hi_u FROM um
       |), zb AS (
       |  SELECT event_id, user_id, dom, value,
       |    (${zExpr("//").replace("u8", "((user_id * 256) // ((SELECT umax FROM um) + 1))")
                         .replace("d8", "(((dom - 1) * 256) // 31)")}) // 4096 AS zbucket
       |  FROM e
       |), man AS (
       |  SELECT zbucket, min(user_id) AS mn_u, max(user_id) AS mx_u,
       |    min(dom) AS mn_d, max(dom) AS mx_d
       |  FROM zb GROUP BY 1
       |), sel AS (
       |  SELECT count(*) AS files_read FROM man, box
       |  WHERE mx_u >= lo_u AND mn_u <= hi_u AND mx_d >= 8 AND mn_d <= 15
       |), uman AS (
       |  SELECT event_id % 16 AS b, min(user_id) AS mn_u, max(user_id) AS mx_u,
       |    min(dom) AS mn_d, max(dom) AS mx_d
       |  FROM e GROUP BY 1
       |), usel AS (
       |  SELECT count(*) AS n_overlap_unclustered FROM uman, box
       |  WHERE mx_u >= lo_u AND mn_u <= hi_u AND mx_d >= 8 AND mn_d <= 15
       |), agg AS (
       |  SELECT count(*) AS n_rows,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
       |  FROM e, box
       |  WHERE user_id BETWEEN lo_u AND hi_u AND dom BETWEEN 8 AND 15
       |)
       |SELECT agg.n_rows, agg.value_c, sel.files_read,
       |  (SELECT count(*) FROM man) AS files_total, usel.n_overlap_unclustered
       |FROM agg, sel, usel""".stripMargin

  /** ORC round-trip behind the manifest gate — the second columnar
    * format real warehouses hold (Hive legacy estates are ORC; a
    * migration engine must read and write it losslessly): documents
    * written as djb2-sharded ORC (`partitionBy(shard)`, same layout as
    * the parquet/text/JSONL trips), read back with the explicit schema
    * discipline, and the re-read rows' [[manifestAgg]] must hash-equal
    * [[manifestSql]] computed off parquet. A green hash certifies
    * byte-exact text fidelity through Spark's ORC writer/reader pair —
    * including its distinct string encoding (dictionary + direct) and
    * stripe framing. Scale shape: ORC stripes block-split exactly like
    * parquet row groups, so shards stay parallel-readable at 100 TB. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_orc_rt_") { out =>
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
        .write.mode("overwrite").partitionBy("shard").orc(out)
      val back = s.read.schema("doc_id LONG, n_chars LONG, text STRING").orc(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** XML ROUND-TRIP behind the same manifest gate as ORC/Avro/CSV —
    * Spark 4 ships the (former spark-xml) source natively, and XML is
    * still how a long tail of enterprise/scientific corpora arrive
    * (PubMed, patents, Wikipedia dumps). Write: one `<doc>` row tag
    * per document, shard-partitioned. Read: explicit schema (never
    * inference — at 100 TB schema inference is a full extra scan),
    * shard recovered from the partition directory. The writer
    * entity-escapes markup and the reader reverses it; the manifest
    * hash compares every text byte against the parquet truth, so ANY
    * escaping/whitespace mangling turns the certificate red rather
    * than passing quietly (the p_text_roundtrip discipline, delegated
    * to the format's own codec). `ignoreSurroundingSpaces=false`
    * pins the one reader default that silently rewrites data. */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_xml_rt_") { out =>
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .option("rowTag", "doc").format("xml").save(out)
      val back = s.read
        .schema("doc_id LONG, n_chars LONG, text STRING")
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .format("xml").load(out)
        .select(col("doc_id"), col("n_chars"), col("text"),
          col("shard").cast("int").as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** Avro record schema for one document. Kept as literal JSON: the
    * schema travels INSIDE each container file's header (that is
    * Avro's whole interchange contract), so the reader below never
    * sees this constant. */
  private val avroDocSchemaJson: String =
    """{"type":"record","name":"doc","namespace":"graft","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"n_chars","type":"long"},
      |{"name":"text","type":"string"}]}""".stripMargin

  /** One Avro OBJECT CONTAINER FILE (spec: magic `Obj\1`, schema JSON
    * in the header metadata, deflate-compressed blocks, 16-byte sync
    * markers) from ordered rows, via the Avro core library's
    * DataFileWriter — the real format, not a re-implementation. */
  private[graft] def encodeAvro(rows: Seq[(Long, Long, String)]): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(avroDocSchemaJson)
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.create(schema, out)
    rows.foreach { case (id, nc, t) =>
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("doc_id", id); r.put("n_chars", nc); r.put("text", t)
      w.append(r)
    }
    w.close()
    out.toByteArray
  }

  /** Inverse of [[encodeAvro]] with NO side-channel schema: the
    * GenericDatumReader takes the writer schema from the container
    * header, exactly as a consumer who received only the bytes would. */
  private[graft] def decodeAvro(bytes: Array[Byte]): Seq[(Long, Long, String)] = {
    val reader = new org.apache.avro.file.DataFileStream(
      new java.io.ByteArrayInputStream(bytes),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    while (reader.hasNext) {
      val r = reader.next()
      buf += ((r.get("doc_id").asInstanceOf[Long],
        r.get("n_chars").asInstanceOf[Long],
        r.get("text").toString)) // Avro strings arrive as Utf8
    }
    reader.close()
    buf.toSeq
  }

  /** AVRO round-trip behind the manifest gate — the row-oriented
    * interchange format Kafka/ingest estates ship (schema travels in
    * the file header, so any consumer can decode with zero
    * coordination). This distribution carries no spark-avro data
    * source, so the trip goes through the AVRO CORE LIBRARY itself:
    * each djb2 shard's documents are serialized into one object
    * container file's bytes in `mapGroups` (one task per shard — the
    * same bounded-shard shape as the tar/zip codecs; at 100 TB you
    * SIZE shards so one fits a task, which is how WebDataset-style
    * corpora are cut anyway), then decoded back through
    * `DataFileStream` with the schema taken from the container header,
    * and the re-read rows' [[manifestAgg]] must hash-equal
    * [[manifestSql]] computed off parquet. A green hash certifies
    * lossless long/UTF-8 round-tripping through Avro's zig-zag varint
    * + deflate-block encoding. */
  def avroRoundtrip(s: SparkSession, d: String): DataFrame = {
    val session = s
    import session.implicits._
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    val back = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
      .as[(Long, Long, String, Int)]
      .groupByKey(_._4)
      .mapGroups { (shard, it) =>
        (shard, encodeAvro(it.map(t => (t._1, t._2, t._3)).toSeq))
      }
      .flatMap { case (shard, bytes) =>
        decodeAvro(bytes).map { case (id, nc, t) => (id, nc, t, shard) }
      }
      .toDF("doc_id", "n_chars", "text", "shard")
    manifestAgg(back)
  }

  /** RESHARD-COST measurement — the quantified argument for consistent
    * hashing: when a 16-shard corpus grows to 20 shards, mod-N
    * assignment (`hash % n`) moves almost EVERY document (any doc with
    * `h%16 ≠ h%20` reshuffles — ~95 %), while a hash RING (each node
    * owns the arc before its point; docs go to the nearest node
    * clockwise) moves only docs captured by the 4 new nodes (~20 %, the
    * 4/20 theory value). At 100 TB that difference is the whole
    * migration bill, and this emits the exact counts instead of citing
    * the paper (the d_cross_shard discipline: compute the gap on YOUR
    * corpus). Ring positions live on a 10⁶ ring via the engine's own
    * djb2-mod expression (C-parity unsigned arithmetic, portable to the
    * oracle's CTE) — over the REVERSED key: djb2 is LINEAR in the last
    * character (h·33 + c), so sequential keys ("node-16"/"node-17",
    * doc ids) land on consecutive ring points and the ring degenerates
    * to two clumps (measured: the 4 new nodes captured 0 of 500 docs).
    * Reversing the key puts the varying character at the HIGH-order
    * 33-power, scattering positions — the avalanche step every real
    * ring hash has, bought here with one portable `reverse`. Second
    * measured failure mode: bare doc-id keys are 1–3 chars, and a
    * ≤3-char djb2 never wraps the 10⁶ modulus, so positions collapse
    * into per-length bands (~11 k wide — and 0/500 docs moved again);
    * the `doc-` prefix pushes every key past the wrap so positions
    * actually mix (measured 24.2 % moved ≈ the 4/20 theory value).
    * The nearest-node argmin is GENUINELY map-side: the 20 node
    * positions are deterministic constants (the same C-parity djb2,
    * computed once on the driver — no collect, no node table, no
    * join), folded into one `least(...)` projection over the encoded
    * (clockwise-distance · 100 + node) keys — per doc, zero shuffle;
    * only the final 1-row aggregate crosses the wire, at any corpus
    * size. */
  def reshardCost(s: SparkSession, d: String): DataFrame = {
    val Ring = 1000000L
    // node keys are compile-time constants, so their ring positions are too
    val nodes: Seq[(Long, Long)] = (0 until 20).map { j =>
      j.toLong -> java.lang.Long.remainderUnsigned(
        graft.functions.Djb2.hash(s"node-$j".reverse.getBytes("UTF-8")), Ring)
    }
    // argmin by (clockwise distance, node) via min over encoded keys
    def ownerCol(upTo: Int): org.apache.spark.sql.Column =
      least(nodes.take(upTo).map { case (node, np) =>
        pmod(lit(np) - col("dpos"), lit(Ring)) * lit(100L) + lit(node)
      }: _*) % 100L
    def rpos(key: org.apache.spark.sql.Column) =
      graft.functions.Djb2.djb2_partition(reverse(key), Ring.toInt).cast("long")
    graft.Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
          .cast("long").as("m16"),
        graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 20)
          .cast("long").as("m20"),
        rpos(concat(lit("doc-"), col("doc_id").cast("string"))).as("dpos"))
      .select(col("m16"), col("m20"),
        ownerCol(16).as("r16"), ownerCol(20).as("r20"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("m16") =!= col("m20"), 1L).otherwise(0L)).as("moved_mod"),
        sum(when(col("r16") =!= col("r20"), 1L).otherwise(0L)).as("moved_ring"))
      .select(col("n_docs"), col("moved_mod"), col("moved_ring"),
        ExactRound.r(col("moved_mod").cast("double") / col("n_docs"), 6).as("frac_mod"),
        ExactRound.r(col("moved_ring").cast("double") / col("n_docs"), 6).as("frac_ring"))
  }

  /** SQL twin: [[OracleCtes.djb2Sql]] over doc keys AND the 20 node
    * keys, same ring arithmetic. */
  val reshardCostSql: String = {
    val fracMod = ExactRound.rSql("CAST(sum(CASE WHEN m16 <> m20 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)
    val fracRing = ExactRound.rSql("CAST(sum(CASE WHEN r16 <> r20 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)
    s"""WITH keys AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS key, 'doc-' || doc_id AS rkey,
      |    doc_id, TRUE AS is_doc
      |  FROM documents
      |  UNION ALL
      |  SELECT 'node-' || j, 'node-' || j, j, FALSE FROM generate_series(0, 19) t(j)
      |), hashed AS (
      |  SELECT doc_id, is_doc, ${OracleCtes.djb2Sql("key")} AS hash,
      |    ${OracleCtes.djb2Sql("reverse(rkey)")} AS rhash
      |  FROM keys
      |), docs AS (
      |  SELECT doc_id, CAST(hash % 16 AS BIGINT) AS m16, CAST(hash % 20 AS BIGINT) AS m20,
      |    CAST(rhash % 1000000 AS BIGINT) AS dpos
      |  FROM hashed WHERE is_doc
      |), nodes AS (
      |  SELECT doc_id AS node, CAST(rhash % 1000000 AS BIGINT) AS npos
      |  FROM hashed WHERE NOT is_doc
      |), own AS (
      |  -- argmin by (clockwise distance, node) via min over encoded keys,
      |  -- same encoding as the Spark side's least(...) projection
      |  SELECT d.doc_id, d.m16, d.m20,
      |    CAST(min(CASE WHEN n.node < 16
      |      THEN ((n.npos - d.dpos + 1000000) % 1000000) * 100 + n.node END) % 100
      |      AS BIGINT) AS r16,
      |    CAST(min(((n.npos - d.dpos + 1000000) % 1000000) * 100 + n.node) % 100
      |      AS BIGINT) AS r20
      |  FROM docs d, nodes n GROUP BY d.doc_id, d.m16, d.m20
      |)
      |SELECT count(*) AS n_docs,
      |  CAST(sum(CASE WHEN m16 <> m20 THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
      |  CAST(sum(CASE WHEN r16 <> r20 THEN 1 ELSE 0 END) AS BIGINT) AS moved_ring,
      |  $fracMod AS frac_mod,
      |  $fracRing AS frac_ring
      |FROM own""".stripMargin
  }

  /** SCHEMA EVOLUTION across writer generations — the reality of any
    * corpus that lives longer than its ingest code: generation-1 files
    * carry (doc_id, n_chars, text), generation-2 files add (lang,
    * source), and a reader must see ONE unified schema with NULLs
    * where the old writer had no column. Exercised end to end: the two
    * generations are written into `gen=1/` / `gen=2/` partitions
    * (id-parity split, deterministic), read back with
    * `mergeSchema=true` (schema reconciliation is a FOOTER-only
    * operation — at 100 TB the merge reads n_files footers, never
    * data), and rolled up per (gen, lang) with the missing dimension
    * coalesced to a sentinel. The oracle reproduces the rollup from
    * the original table, so a green entry certifies no row loss, the
    * partition column's recovery, and NULL-correct column absence. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_schema_evo_") { out =>
      val docs = graft.Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      val back = s.read.option("mergeSchema", "true").parquet(out)
        .localCheckpoint() // keep: outlives
      back.groupBy(col("gen").cast("long").as("gen"),
          coalesce(col("lang"), lit("(missing)")).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("gen", "lang")
    }
  }

  val schemaEvolutionSql: String =
    """SELECT gen, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN doc_id % 2 = 1 THEN lang ELSE '(missing)' END AS lang,
      |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS gen
      |  FROM documents
      |)
      |GROUP BY gen, lang ORDER BY gen, lang""".stripMargin

  /** CORRUPT-RECORD accounting — crawled corpora always contain broken
    * lines, and a 100 TB reader must QUARANTINE them, not die
    * (FAILFAST) or silently drop them. Exercised with planted,
    * deterministic corruption: every doc_id % 50 == 0 document is
    * serialized as a truncated JSON object (unterminated string —
    * unparseable by construction), the rest as valid JSON lines; the
    * file is read back in PERMISSIVE mode with an explicit
    * `_corrupt_record` column, and the result is the quarantine
    * ledger: total/good/corrupt counts and the good rows' exact char
    * mass. The oracle knows exactly which rows were corrupted (the
    * planting rule is pure), so any reader that drops a good row or
    * passes a bad one flips a count. */
  def corruptRecords(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_corrupt_") { out =>
      graft.Tables.documents(s, d)
        .select(when(col("doc_id") % 50 === 0,
            concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
              lit(",\"text\":\"unterminated")))
          .otherwise(to_json(struct(col("doc_id"), col("n_chars"), col("text"))))
          .as("value"))
        .write.mode("overwrite").text(out)
      val back = s.read
        .schema("doc_id LONG, n_chars LONG, text STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .localCheckpoint() // keep: outlives
      back.agg(count(lit(1)).as("n_total"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, col("n_chars")).otherwise(0L))
            .as("chars_good"))
    }
  }

  val corruptRecordsSql: String =
    """SELECT count(*) AS n_total,
      |  CAST(sum(CASE WHEN doc_id % 50 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |  CAST(sum(CASE WHEN doc_id % 50 <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_good
      |FROM documents""".stripMargin

  /** Small-file COMPACTION behind the manifest gate — the #1
    * operational disease of 100 TB ingest (every micro-batch/task
    * leaves a file; a million 1 MB files make listing, scheduling, and
    * open() the bottleneck long before bytes do). Simulated end to
    * end: documents are first written FRAGMENTED (64 write tasks →
    * 64 small parquet files — the post-ingest state), then compacted
    * by reading the fragments back and rewriting `repartition(4)` —
    * the standard bin-packing rewrite; at scale the 4 would be
    * `total_bytes / target_file_size` and the repartition a
    * rebalance-by-size, but the invariant under test is identical —
    * and the MANIFEST of the compacted copy must hash-equal
    * [[manifestSql]] off the original parquet: compaction must move
    * BYTES, never data. The spec pins the file-count collapse; the
    * oracle pins zero row loss/dup/corruption through two complete
    * write-read cycles. */
  def compaction(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    graft.Scratch.withDir("graft_compact_") { out =>
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/fragments")
      s.read.parquet(s"$out/fragments")
        .repartition(4)
        .write.mode("overwrite").parquet(s"$out/compacted")
      val back = s.read.parquet(s"$out/compacted")
        .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"))
        .localCheckpoint() // keep: outlives
      manifestAgg(back)
    }
  }

  /** Incremental partial-aggregate MAINTENANCE — the materialized-view
    * pattern every 100 TB batch pipeline lives on: history is never
    * rescanned; each run aggregates only the new partition and MERGES
    * the partials into the stored state. Simulated deterministically
    * here: orders split at 1997-01-01 into a "history" slice (its
    * monthly partial aggregate plays the stored state table) and a
    * "new arrivals" slice (the day's increment); the merge is a
    * full-outer join on the month key + coalesced integer sums — the
    * q30 MERGE shape — and the result must equal the direct one-shot
    * aggregate over everything (the oracle computes that directly).
    * This works BECAUSE the aggregate is decomposable (counts and
    * integer-micros sums are associative/commutative partials — the
    * same property Spark's own partial/final aggregation exploits
    * inside one job, lifted across runs). Revenue stays BIGINT micros
    * end-to-end, so merge order can't perturb a cent. Scale shape:
    * the scan is bounded by the increment, the merge by the state
    * table (months, not rows). */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderdate"),
        round(col("o_totalprice") * lit(1000000L)).cast("long").as("price_us"))
    def partial(df: DataFrame, n: String, r: String): DataFrame =
      df.groupBy("month").agg(count(lit(1)).as(n), sum("price_us").as(r))
    val hist = partial(o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
      "n_h", "rev_h")
    val fresh = partial(o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")),
      "n_f", "rev_f")
    hist.join(fresh, Seq("month"), "full")
      .select(col("month"),
        (coalesce(col("n_h"), lit(0L)) + coalesce(col("n_f"), lit(0L))).as("n_orders"),
        (coalesce(col("rev_h"), lit(0L)) + coalesce(col("rev_f"), lit(0L))).as("rev_us"))
      .orderBy("month")
  }

  /** Oracle: the DIRECT one-shot aggregate — equality certifies the
    * incremental merge loses/dups nothing. */
  val incrementalSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us
      |FROM orders
      |GROUP BY month ORDER BY month""".stripMargin

  /** Manifest DIFF — the consumer side of [[manifest]]'s drift story,
    * operationalized: compare the shard manifest of the full corpus
    * against the corpus after exact-dedup canonicalization (the
    * [[graft.operators.Dedup.exact]] keep-set) and report, per shard,
    * the document/char deltas and whether the content hash moved. At
    * 100 TB this is how releases are audited — two 16-row manifests diff
    * in milliseconds; nobody re-reads the data. Same scale shape as
    * [[manifest]] twice (one partial-agg pass per version) plus one
    * 16-row join. */
  def datasetDiff(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    val nfp = Tokens.fingerprint(col("text"))
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), col("text"), bucket.as("shard"), nfp.as("nfp"))
      .withColumn("is_canon", col("doc_id") === min("doc_id").over(Window.partitionBy("nfp")))
    val full = manifestAgg(docs)
      .select(col("shard"), col("n_docs").as("n_docs_full"),
        col("total_chars").as("chars_full"), col("manifest_md5").as("h_full"))
    val dedup = manifestAgg(docs.filter(col("is_canon")))
      .select(col("shard"), col("n_docs").as("n_docs_dedup"),
        col("total_chars").as("chars_dedup"), col("manifest_md5").as("h_dedup"))
    full.join(dedup, "shard")
      .select(col("shard"), col("n_docs_full"), col("n_docs_dedup"),
        (col("n_docs_full") - col("n_docs_dedup")).as("docs_removed"),
        (col("chars_full") - col("chars_dedup")).as("chars_removed"),
        (col("h_full") =!= col("h_dedup")).as("changed"))
      .orderBy("shard")
  }

  val datasetDiffSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, n_chars,
      |    ${OracleCtes.fingerprintSql("text")} AS nfp,
      |    md5(text) AS fp,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard
      |  FROM documents
      |), keep AS (
      |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY nfp) AS is_canon FROM b
      |), fullm AS (
      |  SELECT shard, count(*) AS n_docs_full,
      |    CAST(sum(n_chars) AS BIGINT) AS chars_full,
      |    md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || fp, ',' ORDER BY doc_id)) AS h_full
      |  FROM keep GROUP BY shard
      |), dedupm AS (
      |  SELECT shard, count(*) AS n_docs_dedup,
      |    CAST(sum(n_chars) AS BIGINT) AS chars_dedup,
      |    md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || fp, ',' ORDER BY doc_id)) AS h_dedup
      |  FROM keep WHERE is_canon GROUP BY shard
      |)
      |SELECT f.shard, f.n_docs_full, d.n_docs_dedup,
      |  f.n_docs_full - d.n_docs_dedup AS docs_removed,
      |  f.chars_full - d.chars_dedup AS chars_removed,
      |  f.h_full <> d.h_dedup AS changed
      |FROM fullm f JOIN dedupm d ON f.shard = d.shard
      |ORDER BY f.shard""".stripMargin

  val manifestSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, n_chars, md5(text) AS fp,
      |    CAST(${OracleCtes.djb2Sql("CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard
      |  FROM documents
      |)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || fp, ',' ORDER BY doc_id)) AS manifest_md5
      |FROM b GROUP BY shard ORDER BY shard""".stripMargin

  /** Training-mix epoch planning: given a token budget equal to the
    * corpus total and a UNIFORM per-source mixture, how many epochs of
    * each source the sampler must run — the data-mix plan (à la
    * published LLM recipes: small high-value sources repeat, huge
    * sources are undersampled) computed from exact token counts, not
    * estimates. Per source: doc count, token count, uniform target,
    * epochs = ⌈target/n_tokens⌉ in pure integer arithmetic (no FP
    * rounding at any step), and the oversample flag. One map-side token
    * count + a 20-row per-source agg + a broadcast totals scalar; the
    * budget/weights are policy inputs a deployment edits in code, the
    * shape stays two tiny aggregations at any corpus size. */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val perDoc = graft.Tables.parallelize(graft.Tables.documents(s, d))
      .select(col("source"),
        size(Tokens.words(col("text"))).cast("long").as("n_toks"))
    val perSrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val tot = perSrc.agg(sum("n_tokens").as("budget"), count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("budget div n_sources"))
      .withColumn("epochs", expr("(target_tokens + n_tokens - 1) div n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("epochs"), (col("epochs") > 1L).as("oversampled"))
      .orderBy("source")
  }

  /** SQL twin: identical integer ceil-division; BIGINT casts because
    * DuckDB sums BIGINT into HUGEINT. */
  val tokenBudgetSql: String =
    s"""WITH perdoc AS (
      |  SELECT source,
      |    CAST(len(${OracleCtes.wordsSql("text")}) AS BIGINT) AS n_toks
      |  FROM documents
      |), persrc AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |  FROM perdoc GROUP BY source
      |), tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS budget, count(*) AS n_sources FROM persrc
      |)
      |SELECT source, n_docs, n_tokens,
      |  budget // n_sources AS target_tokens,
      |  (budget // n_sources + n_tokens - 1) // n_tokens AS epochs,
      |  ((budget // n_sources + n_tokens - 1) // n_tokens) > 1 AS oversampled
      |FROM persrc, tot ORDER BY source""".stripMargin

  /** Deterministic per-epoch training-order shuffle, audited at the
    * shard level: each epoch e permutes the corpus by
    * `djb2("e:doc_id")`, docs route to `hash mod 32` shards, and within
    * a shard the read order is (hash, doc_id). This is the
    * shard-then-local-sort formulation a distributed data loader
    * actually uses — NO global sort, no global row_number: position
    * assignment is a window per (epoch, shard), 96 independent
    * partitions each sorting its own slice (spilling, never buffering
    * the corpus). Different epochs get uncorrelated permutations from
    * the same RNG-free hash, reproducible across engines, partitionings
    * and reruns — the property that makes a training run resumable.
    * Output per (epoch, shard): doc count, char mass (load-balance
    * audit — a skewed shard starves the loader), the first doc, and an
    * order-SENSITIVE checksum Σ doc_id·pos that pins the entire
    * permutation bit-exactly. */
  def epochShuffle(s: SparkSession, d: String): DataFrame = {
    val key = concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))
    val keyed = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
      .select(col("doc_id"), col("n_chars"), col("epoch"),
        graft.functions.Djb2.djb2_hash(key).as("h"),
        graft.functions.Djb2.djb2_partition(key, 32).as("shard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("epoch", "shard").orderBy("h", "doc_id")
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        max(when(col("pos") === 1L, col("doc_id"))).as("first_doc"),
        sum(col("doc_id") * col("pos")).as("order_checksum"))
      .select(col("epoch"), col("shard"), col("n_docs"),
        col("total_chars").cast("long").as("total_chars"), col("first_doc"),
        col("order_checksum").cast("long").as("order_checksum"))
      .orderBy("epoch", "shard")
  }

  /** SQL twin: djb2 over the same "e:doc_id" keys; unsigned mod for
    * the shard, signed-BIGINT hash order for the in-shard position
    * (Spark orders the signed 64-bit hash). */
  val epochShuffleSql: String = {
    s"""WITH ds AS (
       |  SELECT doc_id, n_chars, e.epoch,
       |    CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) AS key
       |  FROM documents, (SELECT unnest([0, 1, 2]) AS epoch) e
       |), k AS (
       |  SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, n_chars,
       |    CAST(hash % 32 AS INT) AS shard, ${OracleCtes.signedSql("hash")} AS hs
       |  FROM (SELECT *, ${OracleCtes.djb2Sql("key")} AS hash FROM ds)
       |), p AS (
       |  SELECT epoch, shard, doc_id, n_chars,
       |    CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY hs, doc_id) AS BIGINT) AS pos
       |  FROM k
       |)
       |SELECT epoch, shard, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  max(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
       |  CAST(sum(doc_id * pos) AS BIGINT) AS order_checksum
       |FROM p GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin
  }

  /** Low-resource upsampling — the mixture-rebalancing complement of
    * [[quota]] (which CAPS over-represented slices): every document in
    * an under-represented language is replicated ⌊max_lang_docs /
    * lang_docs⌋ times (exact integer division on both engines — `div`,
    * not `/`, which would round a huge-count ratio through a double),
    * emitting one row per replica with a deterministic replica index.
    * This is how multilingual pretraining mixes raise low-resource
    * epochs (data-repetition factors) without RNG: the factor is a
    * pure function of the per-language counts, so the expanded corpus
    * is reproducible across engines and partitionings. Scale shape:
    * per-language counts are a vocabulary-sized partial agg broadcast
    * back; the expansion is a map-side explode(sequence) — the output
    * is bounded by factor × corpus and nothing else shuffles. */
  def upsample(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val cnt = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val mx = cnt.agg(max("n_docs").as("max_docs"))
    docs.join(broadcast(cnt), "lang")
      .crossJoin(broadcast(mx))
      .withColumn("n_rep", expr("max_docs div n_docs"))
      .select(col("doc_id"), col("lang"), col("n_rep"),
        explode(sequence(lit(1L), col("n_rep"))).as("replica_idx"))
      .orderBy("doc_id", "replica_idx")
  }

  /** SQL twin: same floor division, same generate_series expansion. */
  val upsampleSql: String =
    """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      |m AS (SELECT max(n_docs) AS max_docs FROM c),
      |r AS (
      |  SELECT d.doc_id, d.lang, CAST(m.max_docs // c.n_docs AS BIGINT) AS n_rep
      |  FROM documents d JOIN c ON d.lang = c.lang, m
      |)
      |SELECT doc_id, lang, n_rep,
      |  unnest(generate_series(1, n_rep)) AS replica_idx
      |FROM r ORDER BY doc_id, replica_idx""".stripMargin

  /** Train/val/test LEAKAGE audit over [[stratSplit]]'s assignment —
    * the split-time decontamination check an eval pipeline runs before
    * trusting held-out numbers: for every duplicate pair (exact
    * normalized-fingerprint groups AND the verified near-dup Jaccard
    * pairs), which split pair did its endpoints land in? Cross-split
    * rows (train,val / train,test / val,test) are leaks — a val doc
    * whose near-twin sits in train is contaminated even though ids
    * differ, which is why the near relation matters and id-hash
    * splitting cannot prevent it (the d_cross_shard lesson applied to
    * splits; the fix is dedup-then-split, p_curate's ordering). Exact
    * pairs are counted from per-(group, split) sizes — within-split as
    * C(kₛ,2), cross-split via a ≤3-rows-per-group self-join on the
    * AGGREGATED table, so a 10k-copy hot group costs ≤3 count rows,
    * never a pair join. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 100)
    val splitCol = when(col("bucket") < 90, "train")
      .when(col("bucket") < 95, "val").otherwise("test")
    val fp = Tokens.fingerprint(col("text"))
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), fp.as("fp"), bucket.as("bucket"))
      .select(col("doc_id"), col("fp"), splitCol.as("split"))
      .localCheckpoint() // keep: reuse
    val nearRows = graft.operators.Dedup.ngramJaccard(s, d)
      .select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .select(lit("near").as("relation"), col("split_a"), col("split_b"), col("n_pairs"))
    val dupFps = docs.groupBy("fp").agg(count(lit(1)).as("k")).filter(col("k") > 1)
    val ksp = docs.join(dupFps.select("fp"), "fp")
      .groupBy("fp", "split").agg(count(lit(1)).as("ks"))
      .localCheckpoint() // keep: reuse
    val exactSame = ksp.filter(col("ks") > 1)
      .select(col("split").as("split_a"), col("split").as("split_b"),
        expr("(ks * (ks - 1)) div 2").as("n"))
      .groupBy("split_a", "split_b").agg(sum("n").as("n_pairs"))
    val exactCross = ksp.as("x").join(ksp.as("y"),
        col("x.fp") === col("y.fp") && col("x.split") < col("y.split"))
      .select(col("x.split").as("split_a"), col("y.split").as("split_b"),
        (col("x.ks") * col("y.ks")).as("n"))
      .groupBy("split_a", "split_b").agg(sum("n").as("n_pairs"))
    val exactRows = exactSame.union(exactCross)
      .select(lit("exact").as("relation"), col("split_a"), col("split_b"), col("n_pairs"))
    nearRows.union(exactRows)
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
      .orderBy("relation", "split_a", "split_b")
  }

  /** SQL twin: same djb2 split buckets, same exact
    * shingle-Jaccard near pairs, same per-(group, split) pair math. */
  val splitLeakageSql: String = {
    val jac = OracleCtes.ngramJaccardExpr
    s"""WITH ds AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS key,
      |    ${OracleCtes.fingerprintSql("text")} AS fp
      |  FROM documents
      |), docs AS (
      |  SELECT doc_id, fp,
      |    CASE WHEN CAST(hash % 100 AS INT) < 90 THEN 'train'
      |         WHEN CAST(hash % 100 AS INT) < 95 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT *, ${OracleCtes.djb2Sql("key")} AS hash FROM ds)
      |), ${OracleCtes.ngramOverlap}, np AS (
      |  SELECT pa AS doc_a, pb AS doc_b FROM ng_pair WHERE $jac >= 0.5
      |), near_rows AS (
      |  SELECT 'near' AS relation,
      |    least(da.split, db.split) AS split_a,
      |    greatest(da.split, db.split) AS split_b,
      |    count(*) AS n_pairs
      |  FROM np JOIN docs da ON np.doc_a = da.doc_id JOIN docs db ON np.doc_b = db.doc_id
      |  GROUP BY 2, 3
      |), dupfp AS (SELECT fp FROM docs GROUP BY fp HAVING count(*) > 1
      |), ksp AS (
      |  SELECT d.fp, d.split, count(*) AS ks
      |  FROM docs d JOIN dupfp USING (fp) GROUP BY 1, 2
      |), exact_same AS (
      |  SELECT 'exact' AS relation, split AS split_a, split AS split_b,
      |    CAST(sum((ks * (ks - 1)) // 2) AS BIGINT) AS n_pairs
      |  FROM ksp WHERE ks > 1 GROUP BY 2, 3
      |), exact_cross AS (
      |  SELECT 'exact' AS relation, x.split AS split_a, y.split AS split_b,
      |    CAST(sum(x.ks * y.ks) AS BIGINT) AS n_pairs
      |  FROM ksp x JOIN ksp y ON x.fp = y.fp AND x.split < y.split
      |  GROUP BY 2, 3
      |), u AS (
      |  SELECT * FROM near_rows UNION ALL
      |  SELECT * FROM exact_same UNION ALL SELECT * FROM exact_cross
      |)
      |SELECT relation, split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  split_a <> split_b AS is_leak
      |FROM u ORDER BY relation, split_a, split_b""".stripMargin
  }

  /** MERGEABLE APPROXIMATE SKETCHES across runs — [[incremental]]'s
    * approximate twin, and how a 100 TB distinct-count dashboard
    * actually stays fresh: per-day HLL sketches (Spark 3.5+'s public
    * Apache DataSketches surface — `hll_sketch_agg`/`hll_union_agg`/
    * `hll_sketch_estimate`) are built from the FIRST ingest
    * (event_id%10 < 7), persisted as binary parquet — the "previous
    * run" artifact, so the sketch's serialized form is certified to
    * survive a storage round-trip — then merged with the late ingest's
    * sketches via `hll_union_agg` WITHOUT touching history rows again.
    * Exact re-aggregation is impossible at scale (distinct doesn't
    * partial-merge); sketch registers max-merge, so the update cost is
    * O(days), not O(history).
    *
    * Self-certifying result (the q21 discipline — the approximation
    * carries its own audit): per day,
    *   - `n_exact` — exact distinct users (the oracle's side),
    *   - `roundtrip_lossless` — the estimate from the PERSISTED-then-
    *     merged sketch is bit-identical to merging the same partials
    *     built in memory: the parquet round-trip corrupted nothing
    *     (the claim that actually matters for cross-run maintenance),
    *   - `est_ok` — merged estimate within ±5 % of exact (lgK=12
    *     ⇒ ~1.6 % RSE), checked in integer arithmetic (|est−n|·20 ≤ n).
    * The oracle pins exact counts + literal TRUE flags: broken sketch
    * serialization or a drifting estimate flips the gate.
    *
    * Deliberate NON-claim (measured, r6): merged-estimate ==
    * single-pass-estimate is FALSE once the sketch leaves exact coupon
    * mode — a streamed DataSketches HLL answers with the HIP estimator,
    * which a union cannot preserve, so at sf0.1's ~1 300 distinct/day
    * the two estimates legitimately differ (both stay within the
    * bound). Pinning that equality was green at sf0.01 only because
    * low cardinalities keep the sketch exact — exactly the kind of
    * scale-dependent oracle this suite must not encode. */
  def sketchIncremental(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_sketch_inc_") { out =>
      val e = graft.Tables.events(s, d)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("user_id"), col("event_id"))
      def sketches(df: DataFrame): DataFrame =
        df.groupBy("day").agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val hist = sketches(e.filter(col("event_id") % 10 < 7))
      hist.write.mode("overwrite").parquet(out)
      val histBack = s.read.parquet(out)
      val inc = sketches(e.filter(col("event_id") % 10 >= 7))
      def merge(h: DataFrame): DataFrame =
        h.unionByName(inc)
          .groupBy("day").agg(expr("hll_union_agg(sk)").as("sk"))
          .select(col("day"), expr("hll_sketch_estimate(sk)").as("est"))
      val mergedDisk = merge(histBack).withColumnRenamed("est", "est_disk")
      val mergedMem = merge(hist).withColumnRenamed("est", "est_mem")
      val exact = e.groupBy("day").agg(countDistinct("user_id").as("n_exact"))
      val res = exact.join(mergedDisk, "day").join(mergedMem, "day")
        .select(col("day"), col("n_exact"),
          (col("est_disk") === col("est_mem")).as("roundtrip_lossless"),
          (abs(col("est_disk") - col("n_exact")) * lit(20L) <= col("n_exact")).as("est_ok"))
        .orderBy("day")
      // materialize before the scratch "previous run" artifact vanishes
      res.localCheckpoint() // keep: outlives
    }
  }

  val sketchIncrementalSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  count(DISTINCT user_id) AS n_exact,
      |  TRUE AS roundtrip_lossless, TRUE AS est_ok
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  /** HIDDEN `_metadata` COLUMN certificate — per-FILE accounting
    * without a filesystem listing job: documents are written
    * hive-partitioned by an 8-way shard (one file per shard — the
    * writeDayPartitioned discipline: `repartition(col)` routes each
    * shard to exactly one task), then read back through Spark's
    * `_metadata` struct, the API that turns file provenance into plain
    * columns: `file_path` (which file each row came from),
    * `row_index` (the row's ordinal INSIDE its file), `file_size`.
    * At 100 TB this surface is how audits attribute rows to physical
    * files — quarantining a corrupt file's rows, verifying a
    * compaction, building a row-level lineage join — without a second
    * listing/scan pass. The certificate aggregates per shard and pins:
    * `n_files` == 1 (the layout claim), `rows_via_index` ==
    * max(row_index)+1 == `n_rows` (the per-file ordinal is dense and
    * complete — exactly what a row-offset seek index needs),
    * `size_ok` (every file nonempty), and the business sum on the
    * same pass. The oracle replays all of it from the logical table,
    * so a provenance column that misattributed even one row goes red. */
  def fileMetadata(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_pmeta_") { out =>
      graft.Tables.documents(s, d)
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        .select(col("shard"), col("n_chars"),
          col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("ri"),
          col("_metadata.file_size").as("fs"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fp")).as("n_files"),
          (max(col("ri")) + lit(1L)).as("rows_via_index"),
          (min(col("fs")) > 0).as("size_ok"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("shard")
        .localCheckpoint() // keep: outlives
    }
  }

  val fileMetadataSql: String =
    """SELECT CAST(doc_id % 8 AS INT) AS shard,
      |  count(*) AS n_rows, CAST(1 AS BIGINT) AS n_files,
      |  count(*) AS rows_via_index, TRUE AS size_ok,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  /** DELETION VECTORS — merge-on-read delete, the lakehouse pattern
    * that replaced copy-on-write at scale (Delta/Iceberg v2: deleting
    * 0.1 % of a 100 TB table must not rewrite 100 TB — p_forget is the
    * rewrite path, this is its cheap sibling): the delete predicate
    * runs ONCE to resolve keys to (file, row position) pairs — the
    * deletion-vector sidecar — and after that the data files are never
    * rewritten; every read applies the DV as a POSITIONAL anti-join on
    * `_metadata.row_index` (p_file_metadata certified that ordinal is
    * dense and stable), never by re-evaluating the key predicate.
    * Certified both ways: live counts/sums per shard must equal the
    * logical table minus the keyed delete set (the oracle), and
    * `leaked_deletes` — rows matching the delete predicate that
    * SURVIVE the positional filter — is pinned 0, so a position that
    * drifted from its key (the DV corruption mode, which silently
    * resurrects deleted rows) goes red. */
  def deletionVectors(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_pdv_") { out =>
      graft.Tables.documents(s, d)
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      val withPos = s.read.parquet(out)
        .select(col("shard"), col("doc_id"), col("n_chars"),
          col("_metadata.row_index").as("pos"))
      // write path: resolve the keyed delete to positions, once
      val dv = withPos.filter(col("doc_id") % 17 === 3)
        .select(col("shard"), col("pos"))
      // read path: positional anti-join — the key predicate never re-runs
      withPos.join(dv, Seq("shard", "pos"), "left_anti")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_live"),
          sum(col("n_chars")).as("chars_live"),
          sum(when(col("doc_id") % 17 === 3, 1L).otherwise(0L)).as("leaked_deletes"))
        .orderBy("shard")
        .localCheckpoint() // keep: outlives
    }
  }

  val deletionVectorsSql: String =
    """SELECT CAST(doc_id % 8 AS INT) AS shard,
      |  count(*) AS n_live, CAST(sum(n_chars) AS BIGINT) AS chars_live,
      |  CAST(0 AS BIGINT) AS leaked_deletes
      |FROM documents WHERE doc_id % 17 <> 3
      |GROUP BY shard ORDER BY shard""".stripMargin

  /** PARTITION EVOLUTION — migrating a table's partition layout
    * without losing its pruning property (the ops task every aging
    * 100 TB table eventually needs: a day-partitioned event store
    * accumulates 36 500 partitions in a decade and small-file listing
    * costs eat the pruning win; the fix is re-binning to a coarser
    * grain): events are written day-partitioned (one file per day),
    * then EVOLVED to week partitions — read the old layout once,
    * re-bin by an ARITHMETIC week key ((dayofyear−1) div 7; calendar
    * week numbering is locale-dependent and cross-engine unsafe),
    * rewrite one file per week. Certified three ways, all
    * oracle-pinned: content survives (per-week counts + exact-cents
    * sums equal the logical table), the compaction is real
    * (`files_before` = measured day-file count vs `files_after` =
    * measured week-file count), and PRUNING STILL WORKS on the new
    * layout (`week_prune_ok`: a one-week predicate's path-scoped scan
    * opens exactly one file — vacuity throws). */
  def partitionEvolution(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_pevo_") { out =>
      val dayDir = s"$out/by_day"; val wkDir = s"$out/by_week"
      graft.Tables.events(s, d)
        .select(col("event_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(dayDir)
      val dayScan = s.read.parquet(dayDir)
      import org.apache.spark.sql.graftbridge.PlanProbe
      // r14 (guide §2.6): the day-layout audit never reads the week
      // layout — overlap it with the week rewrite; then the two
      // week-layout probes (full scan, pruned scan) overlap each other
      val dayPhase = graft.operators.Shared.awaitAll(Seq[() => Long](
        () => {
          dayScan
            .withColumn("wk", expr("CAST((dayofyear(to_date(day)) - 1) div 7 AS INT)"))
            .repartition(col("wk"))
            .write.mode("overwrite").partitionBy("wk").parquet(wkDir)
          0L
        },
        () => {
          val allDays = dayScan.agg(count(lit(1)).as("n")); allDays.collect()
          PlanProbe.scanMetricSumForPath(allDays, "numFiles", dayDir)
        }))
      val filesBefore = dayPhase(1)
      val wkScan = s.read.parquet(wkDir)
      val wkPhase = graft.operators.Shared.awaitAll(Seq[() => Long](
        () => {
          val allWks = wkScan.agg(count(lit(1)).as("n")); allWks.collect()
          PlanProbe.scanMetricSumForPath(allWks, "numFiles", wkDir)
        },
        () => {
          val oneWk = wkScan.filter(col("wk") === 0).agg(count(lit(1)).as("n"))
          oneWk.collect()
          PlanProbe.scanMetricSumForPath(oneWk, "numFiles", wkDir)
        }))
      val filesAfter = wkPhase(0)
      val pruned = wkPhase(1)
      if (pruned != 1L)
        throw new IllegalStateException(
          s"one-week predicate must open exactly 1 file on the evolved layout, opened $pruned")
      wkScan.groupBy("wk")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("value") * lit(100)).cast("long")).as("value_c"))
        .withColumn("files_before", lit(filesBefore))
        .withColumn("files_after", lit(filesAfter))
        .withColumn("week_prune_ok", lit(true))
        .orderBy("wk")
        .localCheckpoint() // keep: outlives
    }
  }

  /** Oracle: the arithmetic week re-bin replayed from the logical
    * table; file counts are the distinct day/week key counts (the
    * one-file-per-partition write discipline). */
  val partitionEvolutionSql: String =
    """WITH e AS (
      |  SELECT CAST((dayofyear(CAST(ts AS TIMESTAMP)) - 1) // 7 AS INT) AS wk,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, value
      |  FROM events
      |)
      |SELECT wk, count(*) AS n_rows,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
      |  (SELECT count(DISTINCT day) FROM e) AS files_before,
      |  (SELECT count(DISTINCT wk) FROM e) AS files_after,
      |  TRUE AS week_prune_ok
      |FROM e GROUP BY wk ORDER BY wk""".stripMargin

  /** RANGE-CLUSTERED LAYOUT — `repartitionByRange` + sorted write, the
    * continuous-key sibling of hive partitioning (a date-partitioned
    * dir works for day grains; a RANGE layout keeps any ordered key —
    * timestamps, ids, scores — clusterable so min/max file statistics
    * prune like partitions, without a directory per value; it is also
    * the TeraSort write shape). lineitem is written
    * `repartitionByRange(8, l_shipdate).sortWithinPartitions`, read
    * back with `_metadata.file_path`, and the certificate is the
    * layout property itself: per-file [min, max] shipdate intervals
    * must be pairwise DISJOINT (range partitioning puts equal keys in
    * one partition, so file ranges cannot interleave — the property
    * min/max skipping needs; any overlap throws and `ranges_disjoint`
    * is oracle-pinned TRUE). Business result on the same read: monthly
    * line counts + exact-micros revenue, proving content survived the
    * re-layout. File count is deliberately NOT pinned (empty range
    * slices write no file — an engine detail, not a contract). */
  def rangeLayout(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_prange_") { out =>
      graft.Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(out)
      val back = s.read.parquet(out)
        .select(col("l_shipdate"), col("l_extendedprice"),
          col("_metadata.file_path").as("f"))
        .localCheckpoint() // keep: outlives
      // lexicographic == chronological for this format, and immune to
      // the column's TIMESTAMP vs TIMESTAMP_NTZ external type
      val fmtCol = date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
      val perFile = back.groupBy("f")
        .agg(min(fmtCol).as("lo"), max(fmtCol).as("hi"))
        .collect() // bounded by the file count (8), never data-sized
      val overlaps = perFile.combinations(2).count { case Array(a, b) =>
        a.getAs[String]("hi") >= b.getAs[String]("lo") &&
          b.getAs[String]("hi") >= a.getAs[String]("lo")
      }
      if (overlaps > 0)
        throw new IllegalStateException(
          s"$overlaps file-range overlaps — range clustering broken, min/max skipping unsound")
      back.groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * lit(1000000L)).cast("long")).as("rev_us"))
        .withColumn("ranges_disjoint", lit(true))
        .orderBy("month")
        .localCheckpoint() // keep: outlives
    }
  }

  val rangeLayoutSql: String =
    """SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS month,
      |  count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS BIGINT) AS rev_us,
      |  TRUE AS ranges_disjoint
      |FROM lineitem GROUP BY month ORDER BY month""".stripMargin

  /** COMPRESSION-CODEC certificate — parquet zstd vs snappy vs
    * uncompressed, the storage-bill lever nobody benchmarks until the
    * bill arrives (zstd typically ~30 % smaller than snappy at similar
    * scan speed; at 100 TB that is 30 TB of object storage and the
    * same fraction of scan I/O): the corpus is written under all three
    * codecs, each read back and reduced to the same content manifest —
    * `all_codecs_equal` pins losslessness THROUGH the codec boundary
    * (the point of a codec certificate: bytes differ, content must
    * not) — and the measured directory sizes pin the ordering
    * `zstd < snappy < uncompressed` that makes zstd the default
    * recommendation. Sizes themselves are deliberately not emitted
    * (codec library versions move them); the ORDERING is the
    * contract. */
  def zstdParquet(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_pcodec_") { out =>
      val docs = graft.Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"))
      def dirBytes(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(hp).getLength
      }
      def manifest(df: DataFrame): String = df
        .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("fp"))
        .agg(md5(to_binary(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("fp")))),
          x => concat(x.getField("doc_id").cast("string"), lit(":"), x.getField("fp"))),
          ","), lit("utf-8"))).as("m"))
        .collect()(0).getString(0)
      val sizes = Seq("uncompressed", "snappy", "zstd").map { codec =>
        docs.coalesce(1).write.mode("overwrite")
          .option("compression", codec).parquet(s"$out/$codec")
        codec -> (dirBytes(s"$out/$codec"), manifest(s.read.parquet(s"$out/$codec")))
      }.toMap
      val manifests = sizes.values.map(_._2).toSet
      if (manifests.size != 1)
        throw new IllegalStateException("codec round-trip changed content")
      // lossless manifest equality above is the strict gate; the size
      // ORDERING is environment-sensitive (codec library drift, a
      // near-incompressible corpus could tie or flip snappy vs
      // uncompressed), so it's checked with a 5% slack — a storage
      // detail must not be able to redden a correctness run
      val slack = 1.05
      if (!(sizes("zstd")._1 <= sizes("snappy")._1 * slack &&
          sizes("snappy")._1 <= sizes("uncompressed")._1 * slack))
        throw new IllegalStateException(
          s"expected zstd <= snappy <= uncompressed (within 5%), got " +
            sizes.view.mapValues(_._1).toMap.toString)
      import s.implicits._
      Seq((sizes("zstd")._2, true, true))
        .toDF("content_md5", "all_codecs_equal", "zstd_smallest")
        .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
        .select("n_docs", "content_md5", "all_codecs_equal", "zstd_smallest")
    }
  }

  val zstdParquetSql: String =
    """WITH h AS (
      |  SELECT doc_id, doc_id || ':' || md5(text) AS entry FROM documents
      |)
      |SELECT count(*) AS n_docs,
      |  md5(string_agg(entry, ',' ORDER BY doc_id)) AS content_md5,
      |  TRUE AS all_codecs_equal, TRUE AS zstd_smallest
      |FROM h""".stripMargin

  /** DYNAMIC PARTITION OVERWRITE — the standard BACKFILL mechanism
    * (recompute one bad day and write it back), and the conf whose
    * default silently destroys data: with static overwrite semantics
    * (Spark's default) `mode(overwrite).partitionBy(day)` of a
    * one-day frame DELETES EVERY OTHER PARTITION first; dynamic mode
    * replaces only the partitions present in the written frame. The
    * harness performs exactly that backfill — one day's values
    * recomputed (×2) and overwritten under
    * `partitionOverwriteMode=dynamic` — and certifies all three
    * contract halves: the target day carries the new values, every
    * OTHER day's rows are unchanged (the oracle replays the per-day
    * arithmetic), and the other partitions' physical FILES are
    * byte-identical paths (directory listings compared before/after —
    * untouched means untouched, not rewritten-with-same-content;
    * `others_untouched` throws on drift). */
  def dynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_pdyn_") { out =>
      val ev = graft.Tables.events(s, d)
        .select(col("event_id"),
          round(col("value") * lit(100)).cast("long").as("value_c"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
      ev.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      // the backfill day is DERIVED from the data (max day), not
      // hard-coded: a shifted synthetic time range must move the
      // target with it, never produce an empty backfill frame that
      // passes vacuously. One-row scalar probe, not data-sized.
      val target = ev.agg(max(col("day"))).collect()(0).getString(0)
      if (target == null)
        throw new IllegalStateException("events table is empty — no day to backfill")
      def listFiles(): Map[String, Set[String]] = {
        val root = new org.apache.hadoop.fs.Path(out)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(root).filter(_.isDirectory).map { dir =>
          dir.getPath.getName ->
            fs.listStatus(dir.getPath).map(_.getPath.getName).toSet
        }.toMap
      }
      val before = listFiles()
      Shared.withConfs(s, Map("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
        ev.filter(col("day") === target)
          .withColumn("value_c", col("value_c") * 2)
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
      }
      val after = listFiles()
      val othersUntouched = before.keySet == after.keySet &&
        before.forall { case (day, files) =>
          day == s"day=$target" || after(day) == files
        }
      if (!othersUntouched)
        throw new IllegalStateException(
          "dynamic overwrite touched partitions outside the written frame")
      s.read.parquet(out)
        // partition-value inference types day=2024-01-15 as DATE; pin
        // the external type back to the string the writer was given
        .withColumn("day", col("day").cast("string"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"), sum(col("value_c")).as("value_c"))
        .withColumn("others_untouched", lit(true))
        .orderBy("day")
        .localCheckpoint() // keep: outlives
    }
  }

  /** Oracle: per-day arithmetic with the backfilled (max) day doubled —
    * the same data-derived target the Spark side picks. */
  val dynamicOverwriteSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)
      |    * CASE WHEN strftime(ts, '%Y-%m-%d') =
      |        (SELECT max(strftime(ts, '%Y-%m-%d')) FROM events)
      |      THEN 2 ELSE 1 END)
      |    AS BIGINT) AS value_c,
      |  TRUE AS others_untouched
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  /** MERGE-ON-READ vs COPY-ON-WRITE equivalence — the lakehouse delete
    * decision as ONE measured table (p_deletion_vectors ships the MoR
    * read path, p_forget the CoW surgery; this pins that they are the
    * SAME logical table and prices them side by side): the same keyed
    * delete runs through (a) a positional deletion-vector sidecar +
    * anti-join read and (b) a REAL rewrite of affected shard files,
    * per shard emitting the live counts (which must agree cell-by-cell
    * — `paths_agree` is computed from the actual frames, not assumed),
    * the rows each path filtered, and the rewrite bill: CoW rewrites
    * every file containing ≥1 delete (here: all of them — the delete
    * key is uncorrelated with the layout, the common worst case), MoR
    * rewrites ZERO. At 100 TB that difference is the write
    * amplification bill; the read-side cost MoR pays instead is the
    * anti-join this very query executes. */
  def morCowEquiv(s: SparkSession, d: String): DataFrame = {
    graft.Scratch.withDir("graft_morcow_") { out =>
      graft.Tables.documents(s, d)
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      val base = s.read.parquet(out)
        .select(col("shard"), col("doc_id"), col("n_chars"),
          col("_metadata.row_index").as("pos"))
      val isDel = col("doc_id") % 17 === 3
      // MoR: positions resolved once into the sidecar, read = anti-join
      val dv = base.filter(isDel).select(col("shard"), col("pos"))
      val morLive = base.join(dv, Seq("shard", "pos"), "left_anti")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_live"), sum("n_chars").as("chars_live"))
      // CoW: REALLY rewrite affected shards without the deleted rows
      graft.Scratch.withDir("graft_morcow_v2_") { cowDir =>
        s.read.parquet(out).filter(!isDel)
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(cowDir)
        val cowLive = s.read.parquet(cowDir)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_live_cow"), sum("n_chars").as("chars_live_cow"))
        val deletes = base.filter(isDel).groupBy("shard")
          .agg(count(lit(1)).as("dv_positions"))
        morLive.join(cowLive, "shard").join(deletes, Seq("shard"), "left")
          .select(col("shard"), col("n_live"), col("chars_live"),
            coalesce(col("dv_positions"), lit(0L)).as("dv_positions"),
            (col("n_live") === col("n_live_cow") &&
              col("chars_live") === col("chars_live_cow")).as("paths_agree"),
            when(coalesce(col("dv_positions"), lit(0L)) > 0, 1).otherwise(0)
              .as("cow_files_rewritten"),
            lit(0).as("mor_files_rewritten"))
          .orderBy("shard")
          .localCheckpoint() // keep: outlives
      }
    }
  }

  /** Analytic oracle: live census per shard, delete census per shard,
    * agreement pinned TRUE, the rewrite bill stated exactly. */
  val morCowEquivSql: String =
    """WITH del AS (
      |  SELECT CAST(doc_id % 8 AS INT) AS shard, count(*) AS n_del
      |  FROM documents WHERE doc_id % 17 = 3 GROUP BY 1
      |)
      |SELECT CAST(doc_id % 8 AS INT) AS shard,
      |  count(*) FILTER (doc_id % 17 <> 3) AS n_live,
      |  CAST(sum(n_chars) FILTER (doc_id % 17 <> 3) AS BIGINT) AS chars_live,
      |  CAST(coalesce(any_value(d.n_del), 0) AS BIGINT) AS dv_positions,
      |  TRUE AS paths_agree,
      |  CAST(CASE WHEN coalesce(any_value(d.n_del), 0) > 0 THEN 1 ELSE 0 END AS INT)
      |    AS cow_files_rewritten,
      |  0 AS mor_files_rewritten
      |FROM documents LEFT JOIN del d ON d.shard = CAST(doc_id % 8 AS INT)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** ENCRYPTION-AT-REST round-trip through Spark's NATIVE
    * aes_encrypt/aes_decrypt (AES-GCM) — the compliance layer a
    * regulated 100 TB corpus adds between curation and storage, behind
    * the same manifest gate as every other lossless transform: each
    * document's text is encrypted with an explicit per-row 12-byte IV
    * derived from its doc_id (unique per row — GCM's only IV rule;
    * DERIVED rather than random here so the certificate's bytes are
    * deterministic; a production system uses random IVs and a real
    * KMS key), decrypted back, and the decrypted corpus must
    * manifest-hash-equal the parquet truth. `cipher_overhead_ok` pins
    * GCM's exact framing arithmetic — Spark lays the ciphertext out
    * as IV(12) ‖ ct(=plaintext bytes) ‖ tag(16), so every row's
    * ciphertext is exactly plaintext + 28 bytes; a mode/padding drift
    * flips it. Codegen'd expressions end to end, one scan, no UDF. */
  def aesRoundtrip(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16)
    val key = "graft-demo-key16" // 16 bytes -> AES-128; synthetic, in-repo by design
    val enc = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), bucket.as("shard"),
        expr("octet_length(text)").cast("long").as("plain_bytes"),
        expr(s"aes_encrypt(text, '$key', 'GCM', 'DEFAULT', " +
          "substring(unhex(md5(cast(doc_id AS string))), 1, 12))").as("ct"))
    val back = enc
      .withColumn("text", expr(s"cast(aes_decrypt(ct, '$key', 'GCM') AS string)"))
      .withColumn("overhead_ok",
        expr("octet_length(ct)").cast("long") === col("plain_bytes") + 28L)
    val gate = manifestAgg(back.select(col("doc_id"), col("n_chars"), col("text"),
      col("shard")))
    val overhead = back.groupBy("shard")
      .agg(min("overhead_ok").as("cipher_overhead_ok"))
    gate.join(overhead, "shard")
      .orderBy("shard")
  }

  /** SQL twin: the manifest truth (DuckDB cannot replay AES — the
    * DECRYPTED corpus must equal the source, which is the whole
    * certificate) + the framing flag pinned TRUE. */
  val aesRoundtripSql: String =
    manifestSql.replace(
      "SELECT shard, count(*) AS n_docs,",
      "SELECT shard, count(*) AS n_docs, TRUE AS cipher_overhead_ok,")

  /** REFERENTIAL-INTEGRITY audit across the star schema's FK edges —
    * the cross-TABLE contract [[dataContract]]'s per-table checks can't
    * see (a column can be 100 % non-null and well-typed while every
    * value points at a parent that no longer exists — the classic
    * aftermath of a partial backfill or an out-of-order ingest). Per FK
    * edge: child volume, ORPHANS (children whose parent key resolves
    * nowhere — `left_anti`, the plan every FK checker should produce:
    * broadcast the small parent keyset, never a full join), distinct
    * child keys, and CHILDLESS parents (the reverse anti-join — not an
    * error, but the number a retention/archival policy reads). Both
    * engines MEASURE the orphan count rather than assuming the
    * generator's integrity — a regenerated corpus that breaks an edge
    * flips the row, which is the audit working. */
  def referentialIntegrity(s: SparkSession, d: String): DataFrame = {
    // r13: the orphan/childless counts used to be DRIVER actions (two
    // sequential count() jobs per FK edge — 10 scheduler round-trips
    // before the result frame even built). They are now 1-row aggregate
    // subframes cross-joined into each edge's row, so the whole 5-edge
    // audit is ONE action: the scheduler overlaps every anti-join, and
    // nothing waits on the driver between edges (guide §2.6 — same
    // values, measured 45 → 11 jobs).
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val c = child.select(col(ck).as("k"))
      val p = parent.select(col(pk).as("k"))
      val orphans = c.join(p, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val childless = p.join(c, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_childless_parents"))
      c.agg(count(lit(1)).as("n_child"), countDistinct(col("k")).as("n_child_keys"))
        .crossJoin(orphans).crossJoin(childless)
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_child_keys"),
          col("n_orphans"), col("n_childless_parents"))
    }
    edge("lineitem->orders", graft.Tables.lineitem(s, d), "l_orderkey",
        graft.Tables.orders(s, d), "o_orderkey")
      .unionAll(edge("orders->customer", graft.Tables.orders(s, d), "o_custkey",
        graft.Tables.customer(s, d), "c_custkey"))
      .unionAll(edge("customer->nation", graft.Tables.customer(s, d), "c_nationkey",
        graft.Tables.nation(s, d), "n_nationkey"))
      .unionAll(edge("supplier->nation", graft.Tables.supplier(s, d), "s_nationkey",
        graft.Tables.nation(s, d), "n_nationkey"))
      .unionAll(edge("lineitem->part", graft.Tables.lineitem(s, d), "l_partkey",
        graft.Tables.part(s, d), "p_partkey"))
      .orderBy("fk_edge")
  }

  /** SQL twin: identical anti-join measurements per edge. */
  val referentialIntegritySql: String = {
    def edge(name: String, child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$name' AS fk_edge,
         |  CAST(count(*) AS BIGINT) AS n_child,
         |  CAST(count(DISTINCT $ck) AS BIGINT) AS n_child_keys,
         |  CAST((SELECT count(*) FROM $child c
         |        WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)) AS BIGINT)
         |    AS n_orphans,
         |  CAST((SELECT count(*) FROM $parent p
         |        WHERE NOT EXISTS (SELECT 1 FROM $child c WHERE c.$ck = p.$pk)) AS BIGINT)
         |    AS n_childless_parents
         |FROM $child""".stripMargin
    Seq(
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  // ---------------------------------------------------- table fingerprint

  /** ORDER-INDEPENDENT TABLE FINGERPRINT — the equality certificate two
    * engines (or the two sides of a 100 TB migration) each compute over
    * their OWN copy without sorting, co-shuffling, or moving a single
    * row: every row folds to a 48-bit hash of a canonical string
    * (delimited; integer-exact money via cents; ISO dates — no float
    * formatting in the channel), and the table collapses through two
    * COMMUTATIVE aggregates — `bit_xor` plus a modular sum (xor alone is
    * blind to an even number of duplicate swaps, the sum alone to
    * reorderings; the pair catches both) — and the row count.
    * Partial-aggregable ⇒ map-side combine: each of 1000 executors ships
    * 24 bytes to the final merge, the canonical shape of a
    * cross-datacenter diff. The certificate recomputes the fingerprint
    * over a DIFFERENTLY-PARTITIONED half-split traversal (repartition by
    * an unrelated key, aggregate each half, merge xor-of-xors /
    * sum-of-sums) and pins `order_invariant` TRUE — a fingerprint whose
    * value depends on physical row order is useless as a migration
    * check. 12 md5 hex chars (48 bits) keep the fold inside exact BIGINT
    * arithmetic in BOTH engines (the oracle's strpos fold multiplies by
    * at most 16^11 = 2^44, far from 2^63; the modular sum stays under
    * 2^20 per row). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val canonical = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_linestatus"), round(col("l_quantity")).cast("long"),
      round(col("l_extendedprice") * 100).cast("long"),
      col("l_shipdate").cast("date").cast("string"))
    val h = conv(substring(md5(canonical), 1, 12), 16, 10).cast("long")
    val rows = graft.Tables.lineitem(s, d)
      .select(h.as("h"), (col("l_partkey") % 2).as("half"))
    val direct = rows.agg(
      count(lit(1)).as("n_rows"),
      expr("bit_xor(h)").as("fp_xor"),
      sum(col("h") % 1000003L).as("fp_sum_mod"))
    val merged = rows.repartition(7, col("half"))
      .groupBy("half")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
        sum(col("h") % 1000003L).as("sm"))
      .agg(sum("n").as("n2"), expr("bit_xor(x)").as("x2"), sum("sm").as("s2"))
    direct.crossJoin(broadcast(merged))
      .select(col("n_rows"), col("fp_xor"), col("fp_sum_mod"),
        (col("n_rows") === col("n2") && col("fp_xor") === col("x2") &&
          col("fp_sum_mod") === col("s2")).as("order_invariant"))
  }

  /** SQL twin: identical canonical string and md5; the 48-bit value is
    * folded from the hex chars with a strpos ladder (DuckDB has no
    * base-16 `conv`), then the same xor / modular-sum / count collapse.
    * `order_invariant` is pinned TRUE. */
  val fingerprintSql: String = {
    val terms = (0 until 12).map { i =>
      s"CAST(strpos('0123456789abcdef', substr(h,${i + 1},1))-1 AS BIGINT) * ${1L << (4 * (11 - i))}"
    }.mkString(" +\n    ")
    s"""WITH c AS (
       |  SELECT md5(concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus,
       |    CAST(round(l_quantity) AS BIGINT), CAST(round(l_extendedprice*100) AS BIGINT),
       |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR))) AS h
       |  FROM lineitem
       |), v AS (SELECT $terms AS h48 FROM c)
       |SELECT CAST(count(*) AS BIGINT) AS n_rows, bit_xor(h48) AS fp_xor,
       |  CAST(sum(h48 % 1000003) AS BIGINT) AS fp_sum_mod, TRUE AS order_invariant
       |FROM v""".stripMargin
  }

  /** DETERMINISTIC EXACT-k SAMPLE by hash ranking — the reproducible
    * alternative to reservoir sampling for eval-set carving and debug
    * slices: rank every row by md5 of a salted key, keep the k
    * smallest. Unlike `TABLESAMPLE`/`rand()` this is a pure function of
    * the DATA (same k rows on any cluster, any partitioning, any day —
    * re-runs and backfills see the identical sample), and unlike
    * driver-side reservoirs it is DISTRIBUTIVE: per-partition top-k
    * merge to a global top-k, which is exactly Spark's
    * TakeOrderedAndProject plan (k·P rows to the driver, no global
    * sort). The certificate computes the sample a second way —
    * per-djb2-shard local top-k, then a merge of the 16 shard lists —
    * and THROWS unless the two sets are identical: that merge
    * equivalence is the property that lets 1000 executors sample
    * without coordination. */
  def sampleExactK(s: SparkSession, d: String): DataFrame = {
    val k = 50
    val h = md5(concat_ws("-", lit("doc"), col("doc_id"), lit("salt42")))
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), h.as("h"))
    val global = docs.orderBy(col("h"), col("doc_id")).limit(k).localCheckpoint() // keep: reuse
    val shardW = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col("doc_id"))
    val merged = docs
      .withColumn("shard",
        graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16))
      .withColumn("rn", row_number().over(shardW)).filter(col("rn") <= k)
      .orderBy(col("h"), col("doc_id")).limit(k)
    val agree = global.join(merged.select(col("doc_id").as("doc_id2")),
      col("doc_id") === col("doc_id2")).count()
    if (agree != k)
      throw new IllegalStateException(
        s"shard-merged top-$k disagrees with the global top-$k ($agree/$k shared)")
    // unpartitioned window, bounded: `global` is the limit(k) top-k
    val rankW = org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("doc_id"))
    global.select(row_number().over(rankW).as("rank_n"), col("doc_id"),
        substring(col("h"), 1, 12).as("h12"), lit(true).as("merge_agrees"))
      .orderBy("rank_n")
  }

  /** SQL twin: same salted-md5 ranking, k smallest. */
  val sampleExactKSql: String =
    """WITH h AS (
      |  SELECT doc_id, md5('doc' || '-' || doc_id || '-' || 'salt42') AS h FROM documents
      |), top AS (SELECT doc_id, h FROM h ORDER BY h, doc_id LIMIT 50)
      |SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS INT) AS rank_n, doc_id,
      |  substr(h, 1, 12) AS h12, TRUE AS merge_agrees
      |FROM top ORDER BY rank_n""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_sample_exact_k" -> (sampleExactK _),
    "p_fingerprint" -> (fingerprint _),
    "p_referential_integrity" -> (referentialIntegrity _),
    "p_aes_roundtrip" -> (aesRoundtrip _),
    "p_mor_cow_equiv" -> (morCowEquiv _),
    "p_dynamic_overwrite" -> (dynamicOverwrite _),
    "p_zstd_parquet" -> (zstdParquet _),
    "p_range_layout" -> (rangeLayout _),
    "p_partition_evolution" -> (partitionEvolution _),
    "p_deletion_vectors" -> (deletionVectors _),
    "p_gzip_roundtrip" -> (gzipRoundtrip _),
    "p_file_metadata" -> (fileMetadata _),
    "p_sketch_incremental" -> (sketchIncremental _),
    "p_split_leakage" -> (splitLeakage _),
    "p_upsample" -> (upsample _),
    "p_epoch_shuffle" -> (epochShuffle _),
    "p_token_budget" -> (tokenBudget _),
    "p_manifest" -> (manifest _),
    "p_shard_write" -> (shardWrite _),
    "p_text_roundtrip" -> (textRoundtrip _),
    "p_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "p_csv_roundtrip" -> (csvRoundtrip _),
    "p_orc_roundtrip" -> (orcRoundtrip _),
    "p_avro_roundtrip" -> (avroRoundtrip _),
    "p_xml_roundtrip" -> (xmlRoundtrip _),
    "p_zorder" -> (zorder _),
    "p_cdc_apply" -> (cdcApply _),
    "p_scd2" -> (scd2 _),
    "p_bloom_index" -> (bloomIndex _),
    "p_time_travel" -> (timeTravel _),
    "p_iceberg_manifest" -> (icebergManifest _),
    "p_vacuum" -> (vacuum _),
    "p_data_contract" -> (dataContract _),
    "p_forget" -> (forget _),
    "p_incremental" -> (incremental _),
    "p_compaction" -> (compaction _),
    "p_schema_evolution" -> (schemaEvolution _),
    "p_reshard_cost" -> (reshardCost _),
    "p_corrupt_records" -> (corruptRecords _),
    "p_dataset_diff" -> (datasetDiff _),
    "p_curriculum" -> (curriculum _),
    "p_quota" -> (quota _),
    "p_kanon" -> (kanon _),
    "p_split" -> (stratSplit _),
    "p_pack" -> (pack _),
    "p_curate" -> (curate _),
    "p_mix" -> (mix _),
    "p_drift" -> (drift _),
    "p_profile" -> (profile _))

  val oracles: Map[String, String] = Map(
    "p_sample_exact_k" -> sampleExactKSql,
    "p_fingerprint" -> fingerprintSql,
    "p_referential_integrity" -> referentialIntegritySql,
    "p_aes_roundtrip" -> aesRoundtripSql,
    "p_mor_cow_equiv" -> morCowEquivSql,
    "p_sketch_incremental" -> sketchIncrementalSql,
    "p_split_leakage" -> splitLeakageSql,
    "p_upsample" -> upsampleSql,
    "p_epoch_shuffle" -> epochShuffleSql,
    "p_token_budget" -> tokenBudgetSql,
    "p_manifest" -> manifestSql,
    "p_shard_write" -> manifestSql,
    "p_text_roundtrip" -> manifestSql,
    "p_jsonl_roundtrip" -> manifestSql,
    "p_csv_roundtrip" -> csvRoundtripSql,
    "p_orc_roundtrip" -> manifestSql,
    "p_avro_roundtrip" -> manifestSql,
    "p_xml_roundtrip" -> manifestSql,
    "p_zorder" -> zorderSql,
    "p_cdc_apply" -> cdcApplySql,
    "p_scd2" -> scd2Sql,
    "p_bloom_index" -> bloomIndexSql,
    "p_time_travel" -> timeTravelSql,
    "p_iceberg_manifest" -> icebergManifestSql,
    "p_vacuum" -> vacuumSql,
    "p_file_metadata" -> fileMetadataSql,
    "p_deletion_vectors" -> deletionVectorsSql,
    "p_gzip_roundtrip" -> gzipRoundtripSql,
    "p_partition_evolution" -> partitionEvolutionSql,
    "p_range_layout" -> rangeLayoutSql,
    "p_zstd_parquet" -> zstdParquetSql,
    "p_dynamic_overwrite" -> dynamicOverwriteSql,
    "p_data_contract" -> dataContractSql,
    "p_forget" -> forgetSql,
    "p_incremental" -> incrementalSql,
    "p_compaction" -> manifestSql,
    "p_schema_evolution" -> schemaEvolutionSql,
    "p_reshard_cost" -> reshardCostSql,
    "p_corrupt_records" -> corruptRecordsSql,
    "p_dataset_diff" -> datasetDiffSql,
    "p_curriculum" -> curriculumSql,
    "p_quota" -> quotaSql,
    "p_kanon" -> kanonSql,
    "p_split" -> splitSql,
    "p_pack" -> packSql,
    "p_curate" -> curateSql,
    "p_mix" -> mixSql,
    "p_drift" -> driftSql,
    "p_profile" -> profileSql)
}
