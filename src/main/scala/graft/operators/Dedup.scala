package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftConf, Tables}
import graft.functions.Tokens

/** Deduplication family for LLM training-data pipelines (SURVEY.md §2D).
  *
  * Scale posture: every near-dup operator is candidate-generation-by-
  * blocking (LSH bands / simhash chunks / centroid cells), i.e. a shuffle
  * on a short key followed by within-block pair joins — never an O(n²)
  * global cross join. See SURVEY.md §5.
  *
  * Thresholds are calibrated to the driver's synthetic corpus (the
  * generator plants ~25 near-dup pairs at 3-gram Jaccard ≥ 0.5; embeddings
  * are unclustered with max pairwise cosine ≈ 0.51).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical assignment via hash-groupBy on normalized
    * text. Output is total (one row per doc: its canonical id and group
    * size), so the operator composes as a cleaning step. */
  def exact(s: SparkSession, d: String): DataFrame = {
    val fp = Tokens.fingerprint(col("text"))
    val w = Window.partitionBy("fp")
    Tables.documents(s, d)
      .select(col("doc_id"), fp.as("fp"))
      .select(
        col("doc_id"),
        min("doc_id").over(w).as("canonical_id"),
        count(lit(1)).over(w).as("group_size"))
      .orderBy("doc_id")
  }

  val exactSql: String =
    s"""SELECT doc_id,
      | min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
      | count(*) OVER (PARTITION BY fp) AS group_size
      |FROM (
      |  SELECT doc_id, ${OracleCtes.fingerprintSql("text")} AS fp
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  /** URL-CANONICALIZATION dedup — the CHEAPEST dedup pass in a web
    * pipeline and the first one run (CCNet/RefinedWeb discipline: most
    * crawl duplication is the SAME page re-fetched under a decorated
    * URL, collapsible by string surgery before any content hashing):
    * scheme/host case-folding, default-port and `www.` stripping,
    * query/fragment removal, trailing-slash normalization. Each
    * document synthesizes one of four deterministic messy variants of
    * its group's canonical URL (uppercase host + `:80`; `utm_*` query;
    * `www.` + fragment; plain), and the canonicalizer — REAL
    * `parse_url` + regexp string surgery, the code a crawl pipeline
    * actually runs — must collapse all four, pinned by the oracle
    * recomputing the canonical analytically from `doc_id` (the m_exif
    * discipline: synthesis is the oracle). One groupBy on the
    * canonical string: map-side-combinable, no content ever shuffled —
    * at 100 TB this pass is scan-bound and removes the re-fetch mass
    * before the expensive MinHash stages see it. */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val g = expr("doc_id div 4").cast("string")
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("http://docs.example.com/d/"), g))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTP://DOCS.EXAMPLE.COM:80/d/"), g))
      .when(col("doc_id") % 4 === 2,
        concat(lit("http://docs.example.com/d/"), g,
          lit("/?utm_source=feed&utm_campaign=daily")))
      .otherwise(concat(lit("http://www.docs.example.com/d/"), g, lit("#section-2")))
    val canonical = concat(lit("http://"),
      regexp_replace(lower(parse_url(col("url"), lit("HOST"))), "^www\\.", ""),
      regexp_replace(parse_url(col("url"), lit("PATH")), "/$", ""))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"), canonical.as("canonical"))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("url").as("n_raw"),
        min("doc_id").as("keeper"))
      .orderBy("canonical")
  }

  /** The synthesis IS the oracle: the canonical is analytic in doc_id,
    * and the four variants per group are distinct by construction so
    * n_raw = n_docs. */
  val urlDedupSql: String =
    """SELECT 'http://docs.example.com/d/' || CAST(doc_id // 4 AS VARCHAR) AS canonical,
      |  count(*) AS n_docs, count(*) AS n_raw, min(doc_id) AS keeper
      |FROM documents GROUP BY canonical ORDER BY canonical""".stripMargin

  /** Prefix-duplicate groups: documents whose normalized first
    * [[GraftConf.prefixDupTokens]] tokens are IDENTICAL — the
    * truncation-twin / shared-boilerplate-head relation that full-content
    * hashing ([[exact]]) misses (the tails differ) and Jaccard underrates
    * (8 shared tokens out of hundreds is far below any near-dup
    * threshold). One row per group of ≥ 2: canonical id, size, how many
    * sources it spans (boilerplate heads usually span several), and the
    * head itself for triage.
    *
    * Shape: map-side prefix extraction, then ONE two-phase aggregation
    * keyed on the ≤ 8-token string (the shuffle rows are already
    * group-reduced by the partial agg; the distinct-source count rides
    * the same shuffle as a partial `collect_set`-style distinct). At
    * 100 TB the only retune is keying on `xxhash64(pfx)` and carrying
    * `min(pfx)` to shrink shuffle keys — same plan shape. */
  def prefixDup(s: SparkSession, d: String): DataFrame = {
    val pfx = array_join(
      slice(Tokens.lowerWords(col("text")), 1, GraftConf.prefixDupTokens), " ")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), pfx.as("pfx"))
      .groupBy("pfx")
      .agg(
        min("doc_id").as("canonical_id"),
        count(lit(1)).as("group_size"),
        countDistinct("source").as("n_sources"))
      .filter(col("group_size") > 1)
      .select(col("canonical_id"), col("group_size"), col("n_sources"), col("pfx"))
      .orderBy("canonical_id")
  }

  /** SQL twin: identical token slice and grouping. */
  val prefixDupSql: String =
    s"""SELECT min(doc_id) AS canonical_id, count(*) AS group_size,
       |  count(DISTINCT source) AS n_sources, pfx
       |FROM (
       |  SELECT doc_id, source,
       |    array_to_string(list_slice(
       |      ${OracleCtes.lowerWordsSql("text")},
       |      1, ${GraftConf.prefixDupTokens}), ' ') AS pfx
       |  FROM documents)
       |GROUP BY pfx HAVING count(*) > 1
       |ORDER BY canonical_id""".stripMargin

  // ------------------------------------------------------------- shingles

  /** Distinct word-3-gram shingles per document, via the native
    * [[graft.functions.WordShingles]] expression (the interpreted
    * higher-order-function chain measured ~1.6 ms/doc). */
  private def withShingles(s: SparkSession, d: String): DataFrame =
    withShinglesOf(Tables.parallelize(Tables.documents(s, d)))

  /** Shingle extraction over an arbitrary (doc_id, text) frame — the
    * driver queries go through [[withShingles]]; tests (the hot-key
    * stress corpus) inject their own through [[signaturesOf]]. */
  private def withShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.MinHashFns.word_shingles(Tokens.words(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[signatures]] over an arbitrary (doc_id, text) frame. */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame =
    withShinglesOf(docs)
      .withColumn("sig", graft.functions.MinHashFns.minhash_sig(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse

  /** 128-permutation MinHash signature via the native [[graft.functions.MinHashSig]]
    * expression — one generated static call per document over primitive
    * longs (see graft.functions.MinHashImpl for why not higher-order
    * functions, which evaluate interpreted and boxed per element).
    * The signature table is persisted: both sides of the band self-join
    * and the estimate re-joins read it, and it is only 128 longs per doc —
    * recomputing the shingle+sketch chain per consumer measured 4x the
    * whole operator cost at sf0.1. Entries are deliberately left cached
    * (not unpersisted): Spark's CacheManager dedupes by logical plan, so
    * repeated calls per (session, sf) reuse one small entry; callers
    * owning a long-lived session can `spark.catalog.clearCache()`. */
  private val NumPerms = graft.functions.MinHashImpl.NumPerms
  private def signatures(s: SparkSession, d: String): DataFrame =
    withShingles(s, d)
      .withColumn("sig", graft.functions.MinHashFns.minhash_sig(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse

  /** Signature-identity groups: each doc labeled with the min doc_id
    * among docs carrying an IDENTICAL 128-perm signature (`rep`). The
    * hot-cluster guard's unit of work — see [[bandCandidates]]. */
  private[graft] def sigGroups(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("sig")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse

  /** Band-bucket candidate pairs over one REPRESENTATIVE per signature
    * group. This is the join a hot key would otherwise blow up; its
    * input is bounded by the number of DISTINCT signatures. */
  private[graft] def bandCandidateReps(groups: DataFrame, bandRows: Int): DataFrame = {
    val reps = groups.filter(col("doc_id") === col("rep")).select("doc_id", "sig")
    val banded = reps.select(col("doc_id"),
      posexplode(graft.functions.MinHashFns.band_hashes(col("sig"), bandRows)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
    // BUCKET-LOCAL pair generation with the HOT-BUCKET PRUNE built in
    // (the r9 100x finding): buckets keyed on a corpus-common element
    // (whitespace-run CDC chunks, boilerplate shingles) grow linearly
    // with the corpus and their pair set quadratically — one
    // 17910-member bucket priced 1.6e8 rows by itself and the
    // candidate distinct() spilled 241 GB to a disk DNF. Each band
    // bucket is gathered into ONE sorted member array (bounded:
    // arrays past GraftConf.maxBandBucket are dropped BEFORE any pair
    // exists — within-hot-bucket pairs share only the common element,
    // verify would discard every one, and a TRUE near-dup pair still
    // collides in its ~j^rows·bands other, selective bands; residual
    // miss < 1e-7, the banding geometry's own class) and ordered
    // pairs explode in-stage. One single-sided shuffle replaces the
    // r8 two-sided bucket self-join — the cap costs NEGATIVE time.
    // Skew-safe by the same cap: ≤ cap²/2 pair rows per bucket row.
    val pairsInBucket = {
      val ms = col("ms")
      explode(flatten(transform(ms, (x, i) =>
        transform(slice(ms, i + lit(2), size(ms)),
          y => struct(x.as("rep_a"), y.as("rep_b"))))))
    }
    banded.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .filter(size(col("ms")) <= graft.GraftConf.maxBandBucket.toInt)
      .select(pairsInBucket.as("p"))
      .select(col("p.rep_a"), col("p.rep_b"))
      .distinct()
  }

  /** CENSUS-DERIVED verify band rows (r10 verdict item 6 — the
    * [[EmbedBands]] solve-the-geometry-from-the-corpus discipline
    * applied to the MinHash side, which until r11 used the static
    * [[graft.GraftConf.lshBandRowsVerify]]): price the band join for
    * each zero-practical-miss rung and take the cheaper one.
    *
    * The rung SET is fixed to {1, 2} — at j ≥ 0.5 both miss a true
    * pair with ≤ (1−j²)⁶⁴ ≈ 1e-8 (r=1 is strictly better-recalled:
    * 128 single-row bands), so the SELECTION moves cost, never the
    * contract: a brute-force oracle stays exact for either choice and
    * the selection itself is replayed by the consumer's twin. The
    * price of rung r is the UNCAPPED pair volume of its band census
    * over DISTINCT signatures, Σ_buckets bc·(bc−1)/2 in long
    * arithmetic — the cap is a safety valve, not a cost-reducer a
    * selection may exploit (pricing capped volume would reward a
    * geometry precisely for losing recall to hot buckets). On natural
    * corpora single-minhash (r=1) buckets are fat — docs sharing ONE
    * common element collide — so this lands on r=2 everywhere the
    * driver tests, and the derivation is what a corpus with cheap
    * r=1 structure would retune automatically. Two narrow aggregates
    * over the distinct-signature table, priced BEFORE any pair
    * exists. Bucket identity is the 64-bit band hash (slice-equal ⇒
    * hash-equal; a 2⁻⁶⁴ cross-slice collision merges two census
    * buckets and can only nudge the PRICE, the same vanishing class
    * every banding twin already carries). */
  private[graft] def censusBandRows(sigs: DataFrame): Int = {
    val distinctSigs = sigs.select("sig").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val priced = Seq(1, 2).map { r =>
      r -> distinctSigs
        .select(posexplode(graft.functions.MinHashFns.band_hashes(col("sig"), r))
          .as(Seq("band_idx", "band_hash")))
        .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bc"))
        .agg(coalesce(sum(expr("bc * (bc - 1) div 2")), lit(0L)))
        .head().getLong(0)
    }
    distinctSigs.unpersist(blocking = false)
    priced.minBy { case (r, v) => (v, -r) }._1
  }

  /** Candidate pairs only -- signatures are NOT carried through the band
    * join (they'd multiply shuffle width by 128); callers re-join the few
    * surviving pairs against the persisted signature/shingle table.
    * `groups` is the caller's [[sigGroups]] table, built once however
    * many band geometries read it.
    *
    * CANONICALIZE-BEFORE-PAIR (the hot-key pair-explosion guard): the
    * band self-join runs over ONE representative per identical-signature
    * group, then representative pairs expand back to member pairs and
    * intra-group pairs are appended directly (identical signatures share
    * every band, so they are always candidates). The result SET is
    * provably identical to banding all docs — identical signatures are
    * interchangeable in every band bucket — but a document duplicated
    * k times contributes 1 row to the join instead of k²: the 100 TB
    * failure mode (10k-copy boilerplate doc → 10⁸ join rows PER BUCKET,
    * one straggler partition) becomes a single representative. The
    * intra-group expansion is output-cardinality-bound (a k-clique IS
    * k(k−1)/2 pairs if the caller demands all pairs); a production
    * pipeline bounds that too by running [[exact]] dedup first so
    * byte-identical copies never reach the sketch — the composition
    * [[graft.operators.Pipeline.curate]] uses. Spec-pinned in DedupSpec
    * ("hot-key stress"). */
  private[graft] def bandCandidates(groups: DataFrame, bandRows: Int): DataFrame = {
    val members = groups.select(col("rep"), col("doc_id"))
    val cross = bandCandidateReps(groups, bandRows)
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("a")), "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("b")), "rep_b")
      .select(least(col("a"), col("b")).as("doc_a"), greatest(col("a"), col("b")).as("doc_b"))
    val intra = members.select(col("rep"), col("doc_id").as("doc_a"))
      .join(members.select(col("rep"), col("doc_id").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // disjoint by construction (cross pairs span two groups, intra pairs
    // stay inside one) and each unordered pair occurs exactly once, so
    // no distinct() is needed over the union
    cross.union(intra)
  }

  /** MinHash+LSH near-dup candidates with signature-estimated Jaccard.
    * 32 bands x 4 rows targets the j >= 0.5 regime. */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d).select("doc_id", "sig")
    val sigA = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sigB = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    bandCandidates(sigGroups(sigs), bandRows = graft.GraftConf.lshBandRowsCandidates)
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.MinHashFns.est_jaccard(col("sig_a"), col("sig_b")), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.3)
      .orderBy("doc_a", "doc_b")
  }

  /** [[OracleCtes.minhashSigCtes]] over `ng_grams`, the distinct
    * 3-shingles of [[signatures]] — `sigs(doc_id, sig)`; splice after
    * [[OracleCtes.ngramGrams]] or [[OracleCtes.ngramOverlap]]. */
  private lazy val ngramSigCtes: String =
    s"""ng_el AS (SELECT doc_id, g AS elem FROM ng_grams
       |), ${OracleCtes.minhashSigCtes("ng_el")}""".stripMargin

  /** SQL twin of [[minhashLsh]]: every stage of the sketch is
    * deterministic and SQL-expressible — djb2 base hash
    * ([[OracleCtes.djb2Sql]], same as mr_partition_hist), the 128
    * affine permutations as literal coefficient arrays, banding as
    * signature-slice equality. The Spark
    * side joins on a 64-bit band hash rather than the slice itself;
    * equal slices always hash equal, and unequal-slice hash collisions
    * (~2⁻⁶⁴) are removed by the est_jaccard ≥ 0.3 filter, so the results
    * coincide.
    *
    * r10: the twin now REPLAYS [[bandCandidateReps]]'s hot-bucket cap
    * (ADVICE r9): a cross-group pair is a candidate iff it collides in
    * at least one band whose distinct-signature bucket holds ≤
    * [[graft.GraftConf.maxBandBucket]] members, and identical-signature
    * pairs stay candidates unconditionally (the intra-group append) —
    * so the cross-engine contract holds VERBATIM even on corpora where
    * the cap fires (d_cap_fires pins exactly that regime; at the
    * driver's scales the largest bucket is 326 and nothing changes). */
  val minhashLshSql: String = {
    val r = graft.GraftConf.lshBandRowsCandidates
    s"""WITH ${OracleCtes.ngramGrams}, $ngramSigCtes, ${OracleCtes.lshCandCtes(r)}
       |SELECT doc_a, doc_b, est_jaccard FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    round(len(list_filter(generate_series(1, 128), i -> a.sig[i] = b.sig[i])) / 128.0, 6) AS est_jaccard
       |  FROM cand$r c JOIN sigs a ON a.doc_id = c.doc_a JOIN sigs b ON b.doc_id = c.doc_b
       |)
       |WHERE est_jaccard >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Exact n-gram Jaccard dedup: LSH candidates (64 bands × 2 rows — miss
    * probability at j=0.5 is (1-0.25)^64 ≈ 1e-8, so the result equals the
    * brute-force oracle) verified by exact shingle-set intersection.
    *
    * CONTRACT PRECISION (ADVICE r9): "equals the brute-force oracle"
    * is unconditional only while no band bucket exceeds
    * [[graft.GraftConf.maxBandBucket]] (every driver scale — the
    * largest measured bucket is 326). Once the cap fires (corpus-
    * common shingles at 100×), the contract is PROBABILISTIC: a true
    * j ≥ 0.5 pair collides in ~j²·64 ≈ 16 selective bands, so losing
    * its hot bands leaves a residual miss ≲ 10⁻⁷ — the same class as
    * the banding geometry itself. The cap-fires regime has its own
    * oracle-gated query (d_cap_fires: the twin replays the cap and
    * pins that every planted true pair still survives), and
    * d_hot_buckets prices the drop before a pass commits.
    * Memoized per (session, dir) via [[Shared.memo]]: this verified pair
    * table is the input to most of the graph family and half the dedup
    * family, and the band + verify joins downstream of the persisted
    * signature table would otherwise re-run once per consumer. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Shared.memo(s, d, "ngram_jaccard")(ngramJaccardBuild(s, d))
      .orderBy("doc_a", "doc_b")

  private def ngramJaccardBuild(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    val cands = bandCandidates(sigGroups(sigs.select("doc_id", "sig")),
      bandRows = graft.GraftConf.lshBandRowsVerify).select("doc_a", "doc_b")
    // r13: sorted_jaccard over hashed sorted shingles + SHUFFLE_HASH on
    // the array-carrying sides (the r12 d_setsim_join verify lesson;
    // collision bound: [[graft.functions.Hash64Collision]]) — same exact
    // integers, same one IEEE division, string-exact twin unchanged
    val shA = hashedShingleSide(sigs, "doc_a", "sh_a")
    val shB = hashedShingleSide(sigs, "doc_b", "sh_b")
    cands.join(shA, "doc_a").join(shB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        ExactRound.r(
          graft.functions.MinHashFns.sorted_jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** One doc side of a hashed-shingle verify join: sorted 64-bit
    * shingle hashes, ready for [[graft.functions.MinHashFns.sorted_jaccard]]. */
  private def hashedShingleSide(sigs: DataFrame, idCol: String, arrCol: String): DataFrame =
    sigs.select(col("doc_id").as(idCol),
      sort_array(graft.functions.MinHashFns.word_hashes(col("sh"))).as(arrCol))

  /** MODALITY-AGREEMENT audit — the measured answer to "can I dedup on
    * embeddings alone?": every TEXT near-dup pair ([[ngramJaccard]],
    * j ≥ 0.5) scored by its documents' embedding cosine against
    * [[embedDup]]'s own 0.4 threshold (`caught` = the embedding path
    * would have found this pair). The per-pair table is what an
    * operator reads before switching dedup modalities — a low caught
    * rate means embedding dedup silently loses textual near-dups (the
    * d_cross_shard style of evidence: compute the gap, don't assume
    * it). Scale shape: the text-pair table is tiny after its j ≥ 0.5
    * filter, so the two embedding joins are id equi-joins that prune
    * to the pair list; vector arrays never shuffle beyond it. */
  def modalAgreement(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFns.{dot_product, l2_norm}
    val tp = ngramJaccard(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", l2_norm(col("v")))
    val ea = e.select(col("vec_id").as("doc_a"), col("v").as("va"), col("norm").as("na"))
    val eb = e.select(col("vec_id").as("doc_b"), col("v").as("vb"), col("norm").as("nb"))
    // LEFT joins: a pair whose doc has NO embedding row is precisely a
    // pair embedding-only dedup cannot catch — it must appear with
    // caught=false (NULL cosine), not silently shrink the audit's
    // denominator (the production corpus this audit targets never has
    // full embedding coverage)
    tp.join(ea, Seq("doc_a"), "left").join(eb, Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        ExactRound.r(dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      // "caught" evaluates against the threshold embedding dedup
      // ACTUALLY runs at ([[embedDup]]'s noise-floor-lifted 0.4) —
      // an audit pinned to the unlifted literal would report the
      // wrong modality gap the moment the lift fires at scale
      .withColumn("caught",
        coalesce(col("cosine") >= lit(Similarity.effectiveThreshold(s, d, requested = 0.4)),
          lit(false)))
      .orderBy("doc_a", "doc_b")
  }

  // all Jaccard-pair twins build on the shared explode/hash-join
  // overlap fragment — see [[OracleCtes]] for the cost story (the
  // round-4 183-CPU-minute sweep) and the bit-parity argument
  private val jaccardSqlExpr = OracleCtes.ngramJaccardExpr

  val ngramJaccardSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}
      |SELECT pa AS doc_a, pb AS doc_b,
      |  $jaccardSqlExpr AS jaccard
      |FROM ng_pair
      |WHERE $jaccardSqlExpr >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** SQL twin of [[modalAgreement]]: the shared overlap fragment's
    * j ≥ 0.5 pairs joined to per-id embedding cosines. */
  val modalAgreementSql: String = {
    val cosine = ExactRound.rSql("list_inner_product(a.v, b.v) / (a.nrm * b.nrm)", 6)
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.effTCtes(0.4)}, tp AS MATERIALIZED (
      |  SELECT pa, pb, $jaccardSqlExpr AS jaccard
      |  FROM ng_pair WHERE $jaccardSqlExpr >= 0.5
      |), e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)
      |SELECT tp.pa AS doc_a, tp.pb AS doc_b, tp.jaccard,
      |  $cosine AS cosine,
      |  coalesce($cosine >= (SELECT t FROM nf_efft), FALSE) AS caught
      |FROM tp LEFT JOIN e a ON a.vec_id = tp.pa LEFT JOIN e b ON b.vec_id = tp.pb
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Exact set-similarity join via prefix filtering (AllPairs/PPJoin
    * family): order every shingle by ascending global frequency; a pair
    * with Jaccard ≥ t MUST share one of each side's first
    * |X| − ⌈t·|X|⌉ + 1 rarest shingles, so candidates come from a
    * shuffle join on prefix shingles — provably no false negatives,
    * no LSH probabilism. Rare-first ordering keeps prefix buckets small.
    * Produces exactly the same result as [[ngramJaccard]] (both equal the
    * brute-force oracle); this is the deterministic-guarantee variant,
    * that one the constant-work-per-doc variant. */
  /** Shared AllPairs preparation (setsim + containment): 64-bit
    * shingle-hash tokens (one row per (doc, distinct gram) —
    * word_shingles dedupes grams per doc, so the hash multiset IS the
    * gram set up to 64-bit collisions), the global hash-frequency
    * table extended with DENSE VOCABULARY IDS (rank of the hash in
    * the h-sorted vocabulary — distributed sort + zipWithIndex, a
    * vocabulary-sized job at any corpus size), and the per-document
    * delta-varint PACKED sorted-id signature the verify stage ships
    * instead of raw `array<long>` hashes. The remap is a bijection:
    * every set size / intersection / union — and therefore every
    * Jaccard and containment VALUE — is unchanged bit-for-bit, but
    * sorted dense ids have average gap |vocab|/|doc| and pack at
    * ~2–3 B per token instead of 8 B + array overhead, cutting the
    * candidate-linear verify shuffle (~25 GB at 100×, the dedup
    * family's dominant scale cost — r12 verdict item 1) ~4×. */
  private[graft] final case class AllPairsPrep(
      toks: DataFrame, packed: DataFrame, tokens: DataFrame) {
    /** Drop every persisted frame — the refusal path must not leak
      * cached blocks into a long-lived session. */
    def unpersistAll(): Unit = {
      toks.unpersist(blocking = false)
      packed.unpersist(blocking = false)
      tokens.unpersist(blocking = false)
    }
  }

  private def allPairsPrep(s: SparkSession, d: String): AllPairsPrep = {
    val sh = withShingles(s, d)
      .select(col("doc_id"), graft.functions.MinHashFns.word_hashes(col("sh")).as("hs"))
    // two consumers (freq, dict join) — persist, or the scan+shingle
    // chain recomputes per consumer (measured 4x on signatures)
    val tokens = sh.select(col("doc_id"), explode(col("hs")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val freq = tokens.groupBy("h").agg(count(lit(1)).as("f"))
    import s.implicits._
    val dict = freq.orderBy("h").select(col("h"), col("f")).as[(Long, Long)].rdd
      .zipWithIndex()
      .map { case ((h, f), i) => (h, f, i) }
      .toDF("h", "f", "hid")
    // toks feeds the prefix window AND the packed build; packed feeds
    // both verify sides — persist each once instead of recomputing the
    // token join / per-doc pack per consumer
    val toks = tokens.join(dict, "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val packed = toks.groupBy("doc_id")
      .agg(graft.functions.PackedSetFns.pack_sorted(
          sort_array(collect_list(col("hid")))).as("p"),
        count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    AllPairsPrep(toks, packed, tokens)
  }

  /** Bytes-denominated refusal for the AllPairs candidate stream (r12
    * verdict item 2): `priced` counts the rows entering the candidate
    * `distinct()` (exactly, up to the length filter, which only
    * shrinks it) from the prefix census — cheap integer arithmetic on
    * aggregates, BEFORE any pair row exists. A planted hot-token
    * corpus (one token surviving the prefix filter in every document)
    * explodes that distinct output-quadratically exactly like the r11
    * band-degenerate survivor stream; the budget is the same
    * resource-derived one the banded path prices against. Unlike the
    * banded path there is no survivor-rate pilot tier: every candidate
    * reaches the distinct whether or not it verifies, so the priced
    * count IS the shuffled volume, not a worst-case bound. */
  private def allPairsRefuseIfOverBudget(s: SparkSession, path: String,
      priced: Long, nDocs: Long, totSigBytes: Long, cleanup: => Unit): Unit = {
    val budget = graft.GraftConf.bandedShuffleBudgetBytes(s)
    val candBound = priced * graft.GraftConf.allPairsCandRowBytes
    val avgSig = allPairsAvgSigBytes(nDocs, totSigBytes)
    val verifyBound = allPairsVerifyBound(priced, avgSig)
    if (candBound > budget) {
      cleanup
      throw new IllegalStateException(
        s"$path: prefix-filter candidate stream priced at $priced rows " +
          s"($candBound B at ${graft.GraftConf.allPairsCandRowBytes} B/row) against a " +
          s"$budget B shuffle budget — the corpus has a degenerate hot-token " +
          "prefix (candidates are output-quadratic); raise the threshold, or pin " +
          s"${graft.GraftConf.bandedShuffleBudgetKey} if this deployment's shuffle " +
          "capacity is larger than the derived budget")
    }
    // VERIFY tier (r13, the measured 1000× ENOSPC): the candidate
    // distinct can fit while the verify join's signature-carrying
    // stream does not — price it from the packed table's own byte
    // totals before any candidate row rides a shuffle.
    if (verifyBound > budget) {
      cleanup
      throw new IllegalStateException(
        s"$path: verify stream priced at $priced candidates × " +
          s"(${graft.GraftConf.allPairsVerifyRowOverheadBytes} + 2·$avgSig avg-signature B) " +
          s"= $verifyBound B against a $budget B shuffle budget — the corpus' " +
          "near-dup candidate volume exceeds this deployment's shuffle capacity " +
          "(measured: 65 GB of verify shuffle ENOSPC'd a single node at 1000× " +
          "before this tier existed); shrink the corpus per pass, raise the " +
          s"threshold, or pin ${graft.GraftConf.bandedShuffleBudgetKey} on a " +
          "deployment with more aggregate shuffle disk")
    }
  }

  /** Ceil average packed-signature bytes — integer arithmetic only, so
    * the oracle twin replays it exactly. */
  private[graft] def allPairsAvgSigBytes(nDocs: Long, totSigBytes: Long): Long =
    if (nDocs <= 0L) 0L else (totSigBytes + nDocs - 1L) / nDocs

  /** Verify-stream bytes bound: every priced candidate crosses the two
    * verify joins carrying ids + one packed signature per side. */
  private[graft] def allPairsVerifyBound(priced: Long, avgSig: Long): Long =
    priced * (graft.GraftConf.allPairsVerifyRowOverheadBytes + 2L * avgSig)

  /** (doc count, total packed-signature bytes) of the prep's packed
    * table — the one aggregate the verify tier prices from. */
  private[graft] def packedSigStats(packed: DataFrame): (Long, Long) = {
    val r = packed.agg(count(lit(1)).as("nd"),
      coalesce(sum(length(col("p"))), lit(0L)).as("tb")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Per-doc rare-first prefix for the Jaccard AllPairs join: rank ≤
    * n − ⌈t·n⌉ + 1 over (global hash frequency, hash) — one window per
    * doc, no per-doc collect_list + array sort, a shuffle-sort that
    * spills instead of buffering. */
  private def setsimPrefix(toks: DataFrame, t: Double): DataFrame = {
    val wDoc = Window.partitionBy("doc_id")
    toks
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rnk", row_number().over(wDoc.orderBy("f", "h")))
      .filter(col("rnk") <= col("n") - ceil(col("n") * t).cast("int") + 1)
      .select(col("doc_id"), col("n"), col("h"))
  }

  /** Exact pre-length-filter candidate count of the Jaccard AllPairs
    * join: Σ_h c_h·(c_h−1)/2 over the prefix census. */
  private def setsimCandPriced(pe: DataFrame): Long =
    pe.groupBy("h").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))).head().getLong(0)

  def setsimJoin(s: SparkSession, d: String): DataFrame = {
    val t = 0.5
    // the whole pipeline runs on 64-bit shingle hashes (word_hashes,
    // native expr): candidate generation shuffles 8-byte longs instead
    // of ~25-char strings, and the verify ships packed dense-id sets
    // (see allPairsPrep). AllPairs only needs SOME consistent global
    // order, so rare-first on (hash frequency, hash) is as valid as on
    // strings; a 64-bit collision (P < 1e-9 on any real vocabulary)
    // could only perturb the Jaccard value — and the spec cross-checks
    // this result for exact equality against the string-exact LSH path
    // and the brute-force oracle on every run.
    val prep = allPairsPrep(s, d)
    val pe = setsimPrefix(prep.toks, t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // candidate budget BEFORE the distinct: Σ_h c_h·(c_h−1)/2 over the
    // prefix census — see allPairsRefuseIfOverBudget
    val priced = setsimCandPriced(pe)
    val (nDocs, totSig) = packedSigStats(prep.packed)
    allPairsRefuseIfOverBudget(s, "setsimJoin", priced, nDocs, totSig, {
      pe.unpersist(blocking = false); prep.unpersistAll()
    })
    val a = pe.select(col("h"), col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = pe.select(col("h"), col("doc_id").as("doc_b"), col("n").as("n_b"))
    val cands = a.join(b, "h")
      .filter(col("doc_a") < col("doc_b"))
      // length filter: t·|A| ≤ |B| ≤ |A|/t
      .filter(col("n_b") >= col("n_a") * t && col("n_b") <= col("n_a") / t)
      .select("doc_a", "doc_b")
      .distinct()
    val pA = prep.packed.select(col("doc_id").as("doc_a"), col("p").as("p_a"))
    val pB = prep.packed.select(col("doc_id").as("doc_b"), col("p").as("p_b"))
    // VERIFY stage, r12/r13 findings (the r12 probe measured verify at
    // 121 s of the 154 s total at 100×, everything else linear):
    //  - SHUFFLE_HASH on the signature-carrying doc sides (the
    //    EmbedBands.verifyJoin lesson): a sort-merge join would SORT
    //    candidate rows carrying signatures; hash joins build on the
    //    doc table and STREAM the candidates through one codegen stage.
    //  - packed_jaccard over delta-varint dense-id sets instead of
    //    sorted_jaccard over raw hash arrays: the candidate rows carry
    //    the first side's signature through the SECOND join's shuffle
    //    (the 25 GB at 100×), and packed ids are ~4× smaller with the
    //    same one-merge-pass, zero-allocation verify — bit-identical
    //    values (same exact integers, same one IEEE division;
    //    Round13Spec pins equality against sorted_jaccard).
    cands.join(pA.hint("SHUFFLE_HASH"), "doc_a")
      .join(pB.hint("SHUFFLE_HASH"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        ExactRound.r(
          graft.functions.PackedSetFns.packed_jaccard(col("p_a"), col("p_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= t)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation accelerated with pointer jumping: each round (a) pushes
    * labels across edges, (b) replaces every label with its label's own
    * label. Step (b) halves chain depth, so a diameter-D graph converges
    * in O(log D) rounds instead of O(D) — a 200-hop path closes in ~9
    * rounds (see DedupSpec). The iteration runs on the co-partitioned
    * RDD edge list ([[Graph.coPartitionedEdges]]): every round's
    * propagate join is narrow on the edge side, only the (much smaller)
    * label table moves, and there is no per-round Catalyst/AQE
    * re-planning (measured ~0.34 s/round -> ~0.1 s/round at sf0.1 on
    * the same graph against the DataFrame loop this replaced, which
    * re-shuffled the edge table every round). Per-round
    * `localCheckpoint` (lazy — the convergence probe is the single job
    * per round and materializes it) truncates lineage. All merges are
    * `min`, so every step is order- and partitioning-independent —
    * bit-identical labels at any cluster size. The round-2 lesson: an
    * iterative self-join on DataFrames doubles the logical plan per
    * round (persist does NOT truncate plans — Spark re-analyzes/
    * canonicalizes/stringifies the full tree per action, and planning
    * burned minutes per round, or OOM'd in `explainString`, on an
    * 11-round graph), and even per-round-checkpointed DataFrame rounds
    * re-shuffle the edge table and pay Catalyst/AQE planning per round.
    * (Local checkpoints forgo lineage recovery on executor loss; a
    * multi-executor deployment with preemption should set a checkpoint
    * dir and use reliable `checkpoint()` — same truncation effect.)
    * Hitting the round cap without converging throws (silently-split
    * clusters would be a wrong answer). */
  private[graft] def connectedComponents(pairsDf: DataFrame, maxRounds: Int = 50): DataFrame = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    // the (possibly scan/window-heavy) pair-producing plan is
    // materialized once, eagerly, inside the edge build: the checkpoint
    // keeps that big plan out of every round's analysis
    val (symmetric, partitioner) = Graph.coPartitionedEdges(pairsDf)
    val edges = symmetric.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // BigInt sum: a Long sum of 64-bit labels over billions of nodes can
    // wrap and fake (or mask) convergence; BigInt can't. Labels only
    // ever decrease, so the sum strictly decreases until the fixpoint —
    // a one-aggregate convergence probe, no join.
    def labelSum(r: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      r.mapPartitions(it => Iterator.single(it.foldLeft(BigInt(0))(_ + _._2)))
        .fold(BigInt(0))(_ + _)
    // seed labels by PARTITION-LOCAL union-find contraction (union by
    // min, path compression): each partition solves its own subgraph
    // exactly in one pass, so the distributed rounds only have to merge
    // ACROSS partitions — the loop count drops from O(log diameter) to
    // O(log cross-partition diameter). Memory is O(nodes per partition),
    // bounded by the shuffle partitioning at any scale. The local root
    // is the min node id of the local component — a live node of the
    // same component, so the pointer-jumping invariant (labels are live
    // component ids, only ever decreasing) holds from the start; the
    // fixpoint (every node → its component min) is unique, so seeds only
    // affect round count, never the answer.
    val localRoots = edges.mapPartitions { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keysIterator.toArray.iterator.map(k => (k, find(k)))
    }
    var labels = localRoots.reduceByKey(partitioner, math.min(_: Long, _: Long))
    labels.localCheckpoint() // keep: round
    var curSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // propagate: narrow join against the stationary edge blocks, then
      // one tiny shuffle taking the min label per node
      val viaNeighbors = edges.join(labels, partitioner)
        .map { case (_, (b, lab)) => (b, lab) }
      val prop = labels.union(viaNeighbors).reduceByKey(partitioner, math.min(_: Long, _: Long))
      // pointer jumping: a label is always a live node id, so its own
      // (smaller-or-equal) label is a valid label for us too; the extra
      // join halves chain depth per round (O(log D) rounds total)
      val jumped = prop.map { case (id, lab) => (lab, id) }
        .join(prop, partitioner)
        .map { case (_, (id, jlabel)) => (id, jlabel) }
        .partitionBy(partitioner)
      // lazy checkpoint + probe: the sum action is the ONE job per round —
      // it materializes the checkpoint blocks (truncating lineage) and
      // computes the convergence sum
      jumped.localCheckpoint() // keep: round
      val nextSum = labelSum(jumped)
      converged = nextSum == curSum
      curSum = nextSum
      org.apache.spark.graft.BlockRelease.drop(labels)
      labels = jumped
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          "(graph diameter too large for the cap) — refusing to return split clusters")
    edges.unpersist(blocking = false)
    labels.toDF("id", "label")
  }

  /** Near-dup clusters: connected components over the exact-Jaccard pair
    * graph — the step that turns pairwise matches into dedup groups (keep
    * min doc per cluster, drop the rest). The oracle computes the same
    * components by recursive transitive closure. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    // memoized: the iterative RDD CC loop has no logical plan for the
    // CacheManager to dedupe, so without this each of the four label
    // consumers would re-run the whole fixpoint
    Shared.memo(s, d, "dup_clusters") {
      connectedComponents(ngramJaccard(s, d).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }.orderBy("doc_id")

  val dupClustersSql: String =
    s"""WITH RECURSIVE ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
      |  SELECT pa AS ea, pb AS eb FROM pairs UNION SELECT pb, pa FROM pairs
      |), reach AS (
      |  SELECT DISTINCT ea AS src, ea AS dst FROM edges
      |  UNION
      |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
      |)
      |SELECT src AS doc_id, min(dst) AS cluster_id
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** SHINGLE-WIDTH SENSITIVITY sweep — the OTHER dedup-tuning axis
    * ([[thresholdSweep]] sweeps the jaccard threshold at fixed w = 3;
    * this sweeps w at fixed 0.5), run the way a COST-BASED calibration
    * actually runs: for every width w ∈ {2, 3, 5, 8} the sweep first
    * PRICES the candidate join from the shingle frequency table alone
    * (`n_join_rows` = Σ c·(c−1)/2 — one aggregate, no pair ever
    * materialized), then verifies exactly (count-based jaccard — the
    * shared-shingle group count IS the distinct-intersection size, so
    * only (doc_a, doc_b, isz) longs shuffle) for the widths whose
    * priced volume is sane, and SKIPS verification where the price
    * says no — w = 2's join is measured at 36M rows at sf0.1, 29× the
    * w = 3 volume, for (at w = 3 vs 2 on this corpus) identical
    * verified pairs. The skip is the sweep's own finding, emitted as
    * `verified = false` with NULL verify columns rather than silently
    * absent (the no-silent-caps rule). Short shingles explode
    * candidates via common-phrase collisions; long shingles miss
    * edited near-dups — this table is the evidence that picks w
    * before a 100 TB pass commits (the CCNet-vs-Gopher choice). */
  def widthSweep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.parallelize(Tables.documents(s, d))
    // ONE scan+tokenize pass serves all four widths (the widths differ
    // only in the shingle window over the same token array), and every
    // distinct/freq/self-join downstream runs on 64-BIT SHINGLE HASHES
    // (word_hashes, native expr) instead of up-to-60-char strings — the
    // [[setsimJoin]] discipline: candidate generation and verify
    // shuffle 8-byte longs; the accepted collision bound is
    // [[graft.functions.Hash64Collision]] (merge-only failure mode,
    // birthday-bounded, string-exact DuckDB twin audits it).
    val toks = docs.select(col("doc_id"), Tokens.words(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // r14 (guide §2.4 "remove passes outright"): the four widths used to
    // run four chained per-width pipelines — a head() price action plus
    // two checkpoints and THREE count actions each, ~20 small jobs even
    // with the width DAGs overlapped. The widths differ only in a `w`
    // column, so every stage now runs ONCE over a single (w, doc_id, g)
    // table: one aggregate prices all four widths, one candidate join
    // keyed on (w, g) generates every width's pairs, and all nine
    // per-width counts come back in ONE collect over a union of three
    // grouped aggregates. Same expressions per width as before (same
    // distinct, same doc_a < doc_b, same ExactRound.r(...) >= 0.5), so
    // every value is unchanged; the string-exact DuckDB twin is the gate.
    val widths = Seq(2, 3, 5, 8)
    val verifiedW = Seq(3, 5, 8)
    toks.count()
    val tokAll = widths.map { w =>
      toks.select(lit(w).as("w"), col("doc_id"),
        explode(graft.functions.MinHashFns.word_hashes(
          graft.functions.MinHashFns.word_shingles(col("toks"), w))).as("g"))
    }.reduce(_ unionAll _)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val joinRows: Map[Int, Long] = tokAll.groupBy("w", "g").agg(count(lit(1)).as("c"))
      .groupBy("w").agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("jr"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tokV = tokAll.filter(col("w").isin(verifiedW: _*))
    val pr = tokV.select(col("w"), col("doc_id").as("doc_a"), col("g"))
      .join(tokV.select(col("w"), col("doc_id").as("doc_b"), col("g")), Seq("w", "g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("w", "doc_a", "doc_b").agg(count(lit(1)).as("isz"))
      .localCheckpoint() // keep: reuse
    val sz = tokV.groupBy("w", "doc_id").agg(count(lit(1)).as("n"))
    // SHUFFLE_HASH on the doc-size sides (r13 width attribution:
    // SMJ sorted the 113 M-row pair side TWICE against a 500 k-row
    // size table — 9.4 GB of sort spill at 100×; hash joins build
    // on the small side and stream the pairs): broadcast would
    // also work here but dies at billion-doc scale, shuffle-hash
    // holds at any |docs|
    val dup = pr
      .join(sz.select(col("w"), col("doc_id").as("doc_a"), col("n").as("na"))
        .hint("SHUFFLE_HASH"), Seq("w", "doc_a"))
      .join(sz.select(col("w"), col("doc_id").as("doc_b"), col("n").as("nb"))
        .hint("SHUFFLE_HASH"), Seq("w", "doc_b"))
      .filter(ExactRound.r(col("isz").cast("double")
        / (col("na") + col("nb") - col("isz")), 6) >= 0.5)
      .select("w", "doc_a", "doc_b").localCheckpoint() // keep: reuse
    val counts: Map[(Int, String), Long] =
      pr.groupBy("w").agg(count(lit(1)).as("v"))
        .select(col("w"), lit("cand").as("k"), col("v"))
      .unionAll(dup.groupBy("w").agg(count(lit(1)).as("v"))
        .select(col("w"), lit("pairs").as("k"), col("v")))
      .unionAll(dup.select(col("w"), col("doc_a").as("id"))
        .unionAll(dup.select(col("w"), col("doc_b").as("id")))
        .distinct().groupBy("w").agg(count(lit(1)).as("v"))
        .select(col("w"), lit("docs").as("k"), col("v")))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    tokAll.unpersist(blocking = false)
    toks.unpersist(blocking = false)
    val frames = widths.map { w =>
      // a width with zero shingles has no group row: null join volume
      // (the SQL twin's SUM over empty), never a missing-key crash
      val jr = joinRows.get(w).map(v => lit(v)).getOrElse(lit(null)).cast("long")
      val base = s.range(1).select(lit(w).as("w"), jr.as("n_join_rows"))
      if (!verifiedW.contains(w))
        base.select(col("w"), col("n_join_rows"),
          lit(null).cast("long").as("n_candidates"),
          lit(null).cast("long").as("n_pairs_05"),
          lit(null).cast("long").as("n_docs_dup"),
          lit(false).as("verified"))
      else
        base.select(col("w"), col("n_join_rows"),
          lit(counts.getOrElse((w, "cand"), 0L)).as("n_candidates"),
          lit(counts.getOrElse((w, "pairs"), 0L)).as("n_pairs_05"),
          lit(counts.getOrElse((w, "docs"), 0L)).as("n_docs_dup"),
          lit(true).as("verified"))
    }
    frames.reduce(_ unionAll _).orderBy("w")
  }

  /** SQL twin: join volume from the frequency table for every width,
    * the verify chain only for the verified widths. */
  val widthSweepSql: String = {
    def grams(w: Int): String =
      s"""gw$w AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+${w - 1}], ' ') AS g
         |  FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks
         |        FROM documents),
         |    unnest(generate_series(1, len(toks) - ${w - 1})) AS t(i)
         |  WHERE len(toks) >= $w
         |), jr$w AS (
         |  SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS jr
         |  FROM (SELECT count(*) AS c FROM gw$w GROUP BY g)
         |)""".stripMargin
    def verifyCtes(w: Int): String = {
      val j = ExactRound.rSql("CAST(isz AS DOUBLE) / (na + nb - isz)", 6)
      s"""sz$w AS MATERIALIZED (
         |  SELECT doc_id, count(*) AS n FROM gw$w GROUP BY doc_id
         |), pr$w AS MATERIALIZED (
         |  SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS isz
         |  FROM gw$w a JOIN gw$w b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), jj$w AS MATERIALIZED (
         |  SELECT p.pa, p.pb, $j AS j
         |  FROM (SELECT pr.pa, pr.pb, pr.isz, sa.n AS na, sb.n AS nb
         |        FROM pr$w pr JOIN sz$w sa ON sa.doc_id = pr.pa
         |        JOIN sz$w sb ON sb.doc_id = pr.pb) p
         |)""".stripMargin
    }
    def verifiedRow(w: Int): String =
      s"""SELECT $w AS w, (SELECT jr FROM jr$w) AS n_join_rows,
         |  CAST((SELECT count(*) FROM pr$w) AS BIGINT) AS n_candidates,
         |  CAST((SELECT count(*) FROM jj$w WHERE j >= 0.5) AS BIGINT) AS n_pairs_05,
         |  CAST((SELECT count(DISTINCT id) FROM (
         |    SELECT pa AS id FROM jj$w WHERE j >= 0.5
         |    UNION ALL SELECT pb FROM jj$w WHERE j >= 0.5)) AS BIGINT) AS n_docs_dup,
         |  TRUE AS verified""".stripMargin
    s"""WITH ${Seq(2, 3, 5, 8).map(grams).mkString(", ")},
       |${Seq(3, 5, 8).map(verifyCtes).mkString(", ")}
       |SELECT 2 AS w, (SELECT jr FROM jr2) AS n_join_rows,
       |  CAST(NULL AS BIGINT) AS n_candidates, CAST(NULL AS BIGINT) AS n_pairs_05,
       |  CAST(NULL AS BIGINT) AS n_docs_dup, FALSE AS verified
       |UNION ALL ${verifiedRow(3)}
       |UNION ALL ${verifiedRow(5)}
       |UNION ALL ${verifiedRow(8)}
       |ORDER BY w""".stripMargin
  }

  /** OVER-COLLAPSE audit of connected-component dedup — the false-merge
    * risk transitive clustering carries by construction: A~B and B~C
    * put A and C in one cluster even when jaccard(A, C) is 0, and at
    * 100 TB a single hub document chains THOUSANDS of unrelated docs
    * into one cluster that keep-one-per-cluster then decimates. Per
    * multi-member cluster: ALL intra-cluster pairwise jaccards exactly
    * (cluster-bounded k², never corpus-bounded — clusters are the
    * OUTPUT of near-dup detection and small by construction; a
    * pathological giant cluster is precisely what this audit exists to
    * expose before the deduper trusts it), the weakest intra-cluster
    * link, the realized edge density vs the transitive promise, and an
    * `over_collapsed` flag (some member pair is below the 0.5 pairing
    * threshold). The SemDeDup-era rule of thumb — verify the cluster,
    * not the chain — as a measured table. */
  def overcollapse(s: SparkSession, d: String): DataFrame = {
    val members = dupClusters(s, d)
    // r13: hashed sorted shingles + sorted_jaccard (see ngramJaccardBuild;
    // collision bound: [[graft.functions.Hash64Collision]])
    val sh = hashedShingleSide(signatures(s, d), "doc_id", "sh")
    val m = members.join(sh, "doc_id")
    val intra = m.select(col("cluster_id"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .join(m.select(col("cluster_id"), col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "cluster_id")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("cluster_id"),
        ExactRound.r(
          graft.functions.MinHashFns.sorted_jaccard(col("sh_a"), col("sh_b")), 6).as("j"))
    intra.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("j") >= 0.5, 1L).otherwise(0L)).as("n_verified_pairs"),
        min("j").as("min_jaccard"))
      .select(col("cluster_id"), col("n_pairs"), col("n_verified_pairs"),
        ExactRound.r(col("n_verified_pairs").cast("double") / col("n_pairs"), 6)
          .as("edge_density"),
        col("min_jaccard"),
        (col("min_jaccard") < 0.5).as("over_collapsed"))
      .orderBy("cluster_id")
  }

  /** SQL twin: the dupClusters closure + exact jaccard over every
    * intra-cluster pair (LEFT JOIN against ng_pair — a pair with zero
    * shared shingles is jaccard 0, deliberately absent from ng_pair). */
  val overcollapseSql: String =
    s"""WITH RECURSIVE ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS ea, pb AS eb FROM pairs UNION SELECT pb, pa FROM pairs
       |), reach AS (
       |  SELECT DISTINCT ea AS src, ea AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
       |), clusters AS MATERIALIZED (
       |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
       |), intra AS MATERIALIZED (
       |  SELECT m1.cluster_id, m1.doc_id AS da, m2.doc_id AS db
       |  FROM clusters m1 JOIN clusters m2
       |    ON m1.cluster_id = m2.cluster_id AND m1.doc_id < m2.doc_id
       |), jj AS MATERIALIZED (
       |  SELECT i.cluster_id,
       |    coalesce(${ExactRound.rSql("CAST(p.isz AS DOUBLE) / (p.na + p.nb - p.isz)", 6)}, 0.0) AS j
       |  FROM intra i LEFT JOIN ng_pair p ON p.pa = i.da AND p.pb = i.db
       |)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_pairs,
       |  ${ExactRound.rSql("CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS edge_density,
       |  min(j) AS min_jaccard,
       |  min(j) < 0.5 AS over_collapsed
       |FROM jj GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash per document (token-frequency weighted), plus
    * hamming-≤3 near-dup pairs found by 16-bit chunk blocking: hamming ≤ 3
    * over 4 chunks forces at least one identical chunk (pigeonhole), so
    * candidates come from 4 hash-bucket joins, never a cross join. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val sims = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        graft.functions.MinHashFns.simhash64(Tokens.words(col("text"))).as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // canonicalize-before-pair (the [[bandCandidates]] hot-key guard,
    // same argument): docs with an IDENTICAL 64-bit signature are
    // interchangeable in every chunk bucket, so the chunk join runs
    // over one representative per signature and pairs expand after —
    // identical result set, k-copy hot doc contributes 1 join row
    val groups = sims.withColumn("rep", min("doc_id").over(Window.partitionBy("simhash")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val reps = groups.filter(col("doc_id") === col("rep")).select("doc_id", "simhash")
    val chunks = reps.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), i -> struct(i AS chunk_idx, " +
        "shiftright(simhash, CAST(i*16 AS INT)) & 65535 AS chunk_val))")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_val"))
    val a = chunks.select(col("chunk_idx"), col("chunk_val"), col("doc_id").as("rep_a"))
    val b = chunks.select(col("chunk_idx"), col("chunk_val"), col("doc_id").as("rep_b"))
    val repPairs = a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("rep_a") < col("rep_b"))
      .dropDuplicates("rep_a", "rep_b")
    val members = groups.select(col("rep"), col("doc_id"))
    val cross = repPairs
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("ma")), "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("mb")), "rep_b")
      .select(least(col("ma"), col("mb")).as("doc_a"), greatest(col("ma"), col("mb")).as("doc_b"))
    val intra = members.select(col("rep"), col("doc_id").as("doc_a"))
      .join(members.select(col("rep"), col("doc_id").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val simA = sims.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val simB = sims.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    cross.union(intra)
      .join(simA, "doc_a").join(simB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-dataset contamination check — the decontamination pass every
    * LLM training pipeline runs before trusting an eval set: find eval
    * documents that are near-duplicates (3-gram Jaccard ≥ 0.5) of any
    * training document. The synthetic corpus splits by doc_id parity
    * (even = train, odd = eval). Candidates come from the same 64×2 LSH
    * banding as [[ngramJaccard]] (miss probability ≈ 1e-8 at j = 0.5, so
    * the result equals the brute-force cross join the oracle runs),
    * restricted to cross-split pairs before the exact verify. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    val cands = bandCandidates(sigGroups(sigs.select("doc_id", "sig")),
        bandRows = graft.GraftConf.lshBandRowsVerify)
      .filter(pmod(col("doc_a"), lit(2)) =!= pmod(col("doc_b"), lit(2)))
    // r13: hashed sorted shingles + sorted_jaccard (see ngramJaccardBuild;
    // collision bound: [[graft.functions.Hash64Collision]])
    val shA = hashedShingleSide(sigs, "doc_a", "sh_a")
    val shB = hashedShingleSide(sigs, "doc_b", "sh_b")
    cands.join(shA, "doc_a").join(shB, "doc_b")
      .select(
        when(pmod(col("doc_a"), lit(2)) === 0, col("doc_a")).otherwise(col("doc_b")).as("train_doc"),
        when(pmod(col("doc_a"), lit(2)) === 1, col("doc_a")).otherwise(col("doc_b")).as("eval_doc"),
        ExactRound.r(
          graft.functions.MinHashFns.sorted_jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("eval_doc", "train_doc")
  }

  val contaminationSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}
      |SELECT CASE WHEN pa % 2 = 0 THEN pa ELSE pb END AS train_doc,
      |  CASE WHEN pa % 2 = 1 THEN pa ELSE pb END AS eval_doc,
      |  $jaccardSqlExpr AS jaccard
      |FROM ng_pair
      |WHERE pa % 2 <> pb % 2 AND $jaccardSqlExpr >= 0.5
      |ORDER BY eval_doc, train_doc""".stripMargin

  /** SQL twin of [[simhash]]: djb2 → 64-bit wrapping avalanche multiply
    * (HUGEINT split arithmetic to stay under int128) → per-bit ±1 votes
    * weighted by token multiplicity → sign bits → brute-force hamming ≤ 3
    * pairs. The Spark side's 16-bit chunk blocking is lossless for
    * hamming ≤ 3 (pigeonhole: 4 chunks, at most 3 differing bits force
    * one identical chunk), so the blocked result equals this brute
    * force. */
  /** The simhash derivation as a reusable CTE fragment ending in
    * `dsim(doc_id, bits)` — bits is the 64-entry 0/1 list in bit order.
    * Shared by [[simhashSql]] and [[simhashRecallSql]]. */
  private[graft] val simhashCtes: String = {
    val avalanche = java.lang.Long.toUnsignedString(0x9E3779B97F4A7C15L)
    import OracleCtes.m64
    val divs = (0 until 64).map(b => (BigInt(1) << b).toString).mkString("[", ", ", "]")
    s"""doctok AS (
       |  SELECT doc_id, unnest(${OracleCtes.wordsSql("text")}) AS token FROM documents
       |), tokcnt AS (
       |  SELECT doc_id, token, count(*) AS cnt FROM doctok GROUP BY doc_id, token
       |), toks AS (SELECT DISTINCT token FROM doctok
       |), hm AS (
       |  SELECT token,
       |    ((((hash // 4294967296) * $avalanche) % $m64) * 4294967296
       |      + (hash % 4294967296) * $avalanche) % $m64 AS hv
       |  FROM (SELECT token, ${OracleCtes.djb2Sql("token")} AS hash FROM toks)
       |), bits AS (
       |  SELECT token, list_transform($divs::HUGEINT[], dv ->
       |    CASE WHEN (hv // dv) % 2 = 1 THEN 1 ELSE -1 END) AS tb
       |  FROM hm
       |), votes AS (
       |  SELECT token, unnest(tb) AS v, unnest(generate_series(1, 64)) AS b FROM bits
       |), acc AS (
       |  SELECT t.doc_id, vo.b, sum(t.cnt * vo.v) AS acc
       |  FROM tokcnt t JOIN votes vo USING (token)
       |  GROUP BY t.doc_id, vo.b
       |), dsim AS (
       |  SELECT doc_id, list(CASE WHEN acc > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
       |  FROM acc GROUP BY doc_id
       |)""".stripMargin
  }

  /** Pairwise hamming over two dsim rows, as a SQL expression. */
  private def dsimHammingSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |      CASE WHEN $a.bits[i] <> $b.bits[i] THEN 1 ELSE 0 END)) AS BIGINT)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ${dsimHammingSql("a", "b")} AS hamming
       |  FROM dsim a JOIN dsim b ON a.doc_id < b.doc_id
       |)
       |WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SIMHASH RECALL AUDIT — the measured answer to "can I dedup on
    * SimHash alone?", the [[modalAgreement]] question asked of the
    * OTHER cheap signature (Charikar'02 / the Google near-dup paper's
    * operating point): every verified textual near-dup pair
    * ([[ngramJaccard]], j ≥ 0.5) is scored with its documents' 64-bit
    * SimHash hamming distance and rolled up per Jaccard decile —
    * n_pairs, pairs caught at the paper's hamming ≤ 3 cut, at a loose
    * ≤ 8 cut, the worst hamming in the bucket, and one rounded recall.
    * A low recall row is the evidence (not the assumption) that
    * SimHash blocking at that similarity level silently loses pairs
    * the shingle path finds — exactly what an operator needs before
    * swapping the cheap signature in at 100 TB. Scale shape: the pair
    * table is post-filter tiny, the two signature joins are id
    * equi-joins, the hamming is one codegen'd xor+popcount. */
  def simhashRecall(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccard(s, d)
    val sims = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        graft.functions.MinHashFns.simhash64(Tokens.words(col("text"))).as("sig"))
    pairs
      .join(sims.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sims.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .withColumn("j_bucket", floor(col("jaccard") * 10).cast("int"))
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("hamming") <= 3, 1L).otherwise(0L)).as("caught_h3"),
        sum(when(col("hamming") <= 8, 1L).otherwise(0L)).as("caught_h8"),
        max("hamming").as("max_hamming"))
      .withColumn("recall_h3",
        ExactRound.r(col("caught_h3").cast("double") / col("n_pairs"), 6))
      .orderBy("j_bucket")
  }

  /** SQL twin: verified pairs with their jaccard + the shared
    * [[simhashCtes]] bit lists, hamming per pair, same decile rollup. */
  val simhashRecallSql: String = {
    val j = OracleCtes.ngramJaccardExpr
    s"""WITH ${OracleCtes.ngramOverlap}, prj AS MATERIALIZED (
       |  SELECT pa, pb, $j AS j FROM ng_pair WHERE $j >= 0.5
       |), $simhashCtes, ham AS MATERIALIZED (
       |  SELECT prj.j, ${dsimHammingSql("a", "b")} AS hamming
       |  FROM prj JOIN dsim a ON a.doc_id = prj.pa JOIN dsim b ON b.doc_id = prj.pb
       |)
       |SELECT CAST(floor(j * 10) AS INT) AS j_bucket,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS caught_h3,
       |  CAST(sum(CASE WHEN hamming <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS caught_h8,
       |  CAST(max(hamming) AS BIGINT) AS max_hamming,
       |  ${ExactRound.rSql("CAST(sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS recall_h3
       |FROM ham GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------- shared substrings

  /** Exact shared-substring dedup — the character-level near-dup signal of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), via winnowing fingerprints ([[graft.functions.WinnowImpl]],
    * Schleimer et al. SIGMOD'03): doc pairs sharing ≥ 4 distinct winnowed
    * gram-hash values, i.e. substantial verbatim character overlap. The
    * winnowing theorem makes detection exact for any shared run ≥ K+W−1 =
    * 23 chars; fingerprint density ~2/(W+1) keeps the exploded shuffle at
    * ~25% of per-character gram volume (the suffix-array formulation's
    * cost without its global sort). Candidates come from an equi-join on
    * the 64-bit fingerprint — blocked, never all-pairs, same scale shape
    * as the LSH band join. */
  def substringDup(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(graft.functions.WinnowFns.winnow_fingerprints(col("text"))).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val a = fps.select(col("fp"), col("doc_id").as("doc_a"))
    val b = fps.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 4)
      .orderBy("doc_a", "doc_b")
  }

  /** SQL twin of [[substringDup]]: the rolling hash
    * ([[OracleCtes.rollCte]], HUGEINT mod 2⁶⁴), converted to
    * signed BIGINT (Spark's long wrap) BEFORE the window min so min
    * semantics agree bit-for-bit, winnow as a W-row window min, then the
    * same distinct-fingerprint pair join. */
  val substringDupSql: String = {
    val K = graft.functions.WinnowImpl.K
    val W = graft.functions.WinnowImpl.W
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id, text, length(text) - ${K - 1} AS m FROM documents
       |), ${OracleCtes.rollCte(s"m >= $W")}, hs AS (
       |  SELECT doc_id, i, m, ${OracleCtes.signedSql("h")} AS hsig
       |  FROM roll
       |), wins AS (
       |  SELECT doc_id, i, m,
       |    min(hsig) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS fp
       |  FROM hs
       |), fps AS (
       |  SELECT DISTINCT doc_id, fp FROM wins WHERE i <= m - ${W - 1}
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 4
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------------------ embedding

  /** Embedding near-dup pairs at cosine ≥ 0.4 (synthetic-data calibration;
    * real corpora use ~0.95) — exact below the
    * [[graft.GraftConf.maxBrutePairs]] envelope, with NO cartesian
    * product.
    *
    * r10 SCALE CONTRACT (shared by the six graph consumers): the
    * requested 0.4 is a FLOOR — [[Similarity.effectiveThreshold]]
    * lifts it out of the unrelated-pair cosine noise floor, which
    * RISES with corpus size (≈ 0.86 at 200 k dim-64 vectors — at
    * that scale a 0.4 edge is statistically meaningless, so the lift
    * is the semantics, not an approximation). Below the exact-verify
    * envelope the pair set is EXACT at the lifted threshold; past it
    * construction switches to the SimHash-banded, exactly-verified
    * path ([[EmbedBands.bandedPairs]]) with per-pair recall ≥
    * [[graft.GraftConf.bandRecallTarget]] CONDITIONAL on the
    * hot-bucket cap not absorbing all of a pair's band collisions —
    * a pair colliding only in buckets past
    * [[graft.GraftConf.maxBandBucket]] can be missed regardless of
    * the band count (the residual-miss class
    * [[EmbedBands.bandedPairs]] documents and d_cap_fires gates;
    * every EMITTED pair is exactly verified either way). Both the lift and the
    * gate are replayed verbatim by the SQL twins
    * ([[OracleCtes.embedPairsCtes]]), so the brute-force oracle
    * contract below holds EXACTLY at every scale the oracle runs,
    * and the banded contract is the same cross-engine construction
    * one decade up. At the driver's test scales nothing lifts and
    * nothing bands — the historical exact-at-0.4 results are
    * unchanged.
    *
    * Pivot-based metric blocking on the unit sphere with PER-VECTOR probe
    * pruning: every vector v is assigned to its angularly-nearest of
    * ~√n centroid cells (its "home"); v then probes exactly the cells c
    * whose centroid it can reach within the threshold through some member,
    * i.e. ang(v, c) − r_c ≤ acos(t) (triangle inequality through the
    * partner; r_c = c's member radius). This is strictly tighter than the
    * cell-pair radii bound (it uses v's actual centroid angles, not the
    * worst member of v's home cell), and still misses nothing: a
    * qualifying pair (u,w) satisfies ang(u, cell(w)) ≤ ang(u,w) +
    * ang(w, cell(w)) ≤ acos(t) + r_{cell(w)} in BOTH directions, so the
    * one-directional probe⋈home join emits each qualifying pair exactly
    * once under vec_a < vec_b. Zero false negatives by construction —
    * the brute-force SQL oracle is the contract at ANY scale, not a
    * tuned coincidence.
    *
    * Scale shape: cells grow as √n, so the (vector, cell) angle table is
    * O(n^1.5) narrow rows, per-cell membership is O(√n), and on clustered
    * real-world embeddings (small radii) each vector probes O(1) cells —
    * verify work ≈ n·√n worst case, ≈ n·k/cluster in practice (the
    * DedupSpec clustered-corpus test pins probe fraction < 10%). On a
    * corpus with NO angular structure (like this synthetic one — random
    * vectors concentrate at 90° with cell radii ≈ 80°) no exact metric
    * pruning can reject cells, so verify degrades toward blocked
    * all-pairs; that is information-theoretic, not an implementation
    * limit, and correctness never depends on pruning. */
  def embedDup(s: SparkSession, d: String): DataFrame = {
    // resolve the threshold BEFORE entering the memo: effectiveThreshold
    // reads the noise_stats memo, and ConcurrentHashMap.computeIfAbsent
    // throws "Recursive update" on memo-inside-memo (order-dependent —
    // Bench's sorted sweep reaches embed_dup before anything has
    // populated noise_stats; Verify's map order happened not to)
    val t = Similarity.effectiveThreshold(s, d, requested = 0.4)
    // memoized: the cell-blocked verify joins feed six graph/dedup
    // consumers per session — share the verified pair table, not the work
    embedPairsMemo(s, d, t).orderBy("vec_a", "vec_b")
  }

  /** Per-threshold memo of the exact verified pair table (r13): the
    * g_cliques4/g_ktruss construction ran [[embedPairBlocks]] from
    * scratch per invocation at their own thresholds while [[embedDup]]
    * memoized only its 0.4 rung — same discipline, keyed by rung.
    * (The historical key "embed_dup" is kept for the 0.4 rung so the
    * memo name stays recognizable in scratch listings.) */
  private[graft] def embedPairsMemo(s: SparkSession, d: String, t: Double): DataFrame =
    Shared.memo(s, d, if (t == 0.4) "embed_dup" else s"embed_pairs_t$t")(
      embedPairBlocks(Tables.embeddings(s, d), t = t)._1)

  /** Blocking machinery shared by [[embedDup]] and the DedupSpec pruning
    * probe: returns (exact qualifying pairs ordered by (vec_a, vec_b),
    * the (vec_id, cell) probe table whose size measures pruning power).
    * Input needs (vec_id, embedding). */
  private[graft] def embedPairBlocks(e0: DataFrame, t: Double,
      // test seam (ADVICE r10): EmbedBandsSpec lowers the gate to drive
      // the banded RETURN PATH of this method directly (threshold
      // pass-through, empty probes frame) on a corpus small enough to
      // also compute the exact answer; production callers never pass it
      maxBrutePairs: Long = graft.GraftConf.maxBrutePairs): (DataFrame, DataFrame) = {
    import graft.functions.VectorFns.{dot_product, l2_norm}
    val acosT = math.acos(t)
    val eps = 1e-6 // FP slack on the prune bound: borderline cells verify instead of pruning
    val e = e0
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", l2_norm(col("v")))
    // metadata-only count on parquet inputs; cells ~ √n keeps membership
    // and probe lists O(√n) as the corpus scales
    val n = e0.select("vec_id").count()
    // THE EXACT-VS-BANDED GATE (r10): past maxBrutePairs even the
    // block-partitioned brute verify is super-node-scale (2·10¹⁰
    // dim-64 dots at 200 k vectors), so construction switches to the
    // SimHash-banded exactly-verified path — recall per qualifying
    // pair ≥ bandRecallTarget absent hot-bucket loss (cap-conditional,
    // see bandedPairs), same output columns. The gate is ONE
    // integer comparison on n, replayed verbatim by every consumer
    // twin (OracleCtes.embedPairsCtes) — deliberately NOT the cell
    // price: the cell decision only picks between two EXACT plans,
    // while this gate changes the contract, so it must be cheap for
    // the oracle to replay. Callers reach here with a threshold the
    // noise-floor audit already lifted (effectiveThreshold), which on
    // the banded side only selects BANDABLE rungs.
    if (n * (n - 1) / 2 > maxBrutePairs) {
      val pairs = EmbedBands.bandedPairs(e, n, t)
      // the cell-probe table is a pruning diagnostic of the exact
      // path; the banded path has no cells — empty, same schema
      val probes = e.select(col("vec_id"), col("vec_id").as("cell")).limit(0)
      return (pairs, probes)
    }
    val numCells = math.max(graft.GraftConf.minEmbedCells, math.ceil(math.sqrt(n.toDouble)).toInt)
    def ang(cosine: Column): Column = acos(least(greatest(cosine, lit(-1.0)), lit(1.0)))
    val cents = e.filter(col("vec_id") < numCells)
      .select(col("vec_id").as("cell"), col("v").as("c_v"), col("norm").as("c_norm"))
    // one narrow (vec, cell, ang) table feeds BOTH the nearest-cell
    // assignment and the probe pruning — vector arrays never ride
    // through these shuffles
    val angles = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        ang(dot_product(col("v"), col("c_v")) / (col("norm") * col("c_norm"))).as("ang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val wAssign = Window.partitionBy("vec_id").orderBy(col("ang"), col("cell"))
    val home = angles
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("ang"))
    val assigned = home.join(e, "vec_id") // (vec_id, cell, ang, v, norm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val radii = assigned.groupBy("cell").agg(max("ang").as("r"))
    // per-vector probes: v reaches cell c only if ang(v,c) − r_c ≤ acos t
    val probes = angles.join(broadcast(radii), "cell")
      .filter(col("ang") - col("r") <= acosT + eps)
      .select(col("vec_id"), col("cell"))
    // PRICE the cell-candidate join before paying it (the width-sweep
    // cost-calibration discipline): its row count is exactly
    // Σ_cell probes(c)·members(c), two narrow aggregates over tables
    // already persisted above. On a corpus whose cosine threshold sits
    // inside the unrelated-pair noise floor the angular prune is void
    // (every vector probes every cell) and the join is n² — the
    // round-8 10× scale probe measured 109 GB of shuffle and a host
    // OOM from exactly this shape. Over budget THROWS with retuning
    // guidance instead of grinding: at real scale the answer is a
    // threshold above the noise floor (where the prune bites and the
    // √n cell geometry holds) or a sketch prefilter, not a bigger
    // cluster.
    val priced = probes.groupBy("cell").agg(count(lit(1)).as("p"))
      .join(assigned.groupBy("cell").agg(count(lit(1)).as("m")), "cell")
      .agg(sum(col("p") * col("m")).cast("long"))
      .head().getLong(0)
    val pairs = if (priced > graft.GraftConf.maxEmbedCandidates) {
      // The priced candidate join says the angular prune is VOID at
      // this (threshold, corpus) — every vector probes every cell, so
      // the cell path would shuffle ~n² vector-carrying rows (the r8
      // 10× probe measured 109 GB and a host OOM from exactly this).
      // Fall back to the exact BLOCK-PARTITIONED brute verify below —
      // same output, bounded shuffle — and release the cell machinery.
      angles.unpersist(blocking = false)
      assigned.unpersist(blocking = false)
      bruteVerify(e, n, t)
    } else {
      val a = probes
        .join(assigned.select(col("vec_id"), col("v").as("v_a"), col("norm").as("n_a")), "vec_id")
        .select(col("cell"), col("vec_id").as("vec_a"), col("v_a"), col("n_a"))
      val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
        col("v").as("v_b"), col("norm").as("n_b"))
      a.join(b, "cell")
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          ExactRound.r(dot_product(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6).as("cosine"))
        .filter(col("cosine") >= t)
        // no dedup needed: a pair (u,w) is emitted only via u's probe row
        // for w's unique home cell (probes are unique per (vec, cell)), so
        // the vec_a < vec_b filter leaves exactly one row per pair
        .orderBy("vec_a", "vec_b")
    }
    (pairs, probes)
  }

  /** Exact all-pairs cosine verify with BOUNDED shuffle — the scale-safe
    * fallback when [[embedPairBlocks]]'s priced candidate join proves
    * the angular prune void (isotropic corpus / threshold inside the
    * noise floor; on such data NO exact metric blocking can prune —
    * high-dimensional concentration puts every cell radius near 90°,
    * which is information-theoretic, not an implementation limit).
    * Shape: vectors land in B = ⌈n/blockRows⌉ id-hash blocks; the
    * B·(B+1)/2 unordered block PAIRS become the join key, so each
    * vector rides at most B+1 partitions (O(n·B) vector bytes of
    * shuffle — 10× probe: ~4·10⁵ rows ≈ 0.2 GB, vs the 109 GB the
    * naive cell join paid) and the n²/2 dot products stream through
    * the join's codegen'd filter/project, never materializing. Work is
    * priced first — n(n−1)/2 over [[graft.GraftConf.maxBrutePairs]]
    * still REFUSES with the volume, because past that the exact
    * answer is genuinely super-node-scale and the caller should be on
    * a lifted threshold ([[Similarity.effectiveThreshold]]) where
    * blocking prunes. Block-pair tasks are uniform (≤ blockRows² dots
    * each), so the stage is skew-free by construction. */
  private[graft] def bruteVerify(e: DataFrame, n: Long, t: Double): DataFrame = {
    import graft.functions.VectorFns.dot_product
    val nPairs = n * (n - 1) / 2
    if (nPairs > graft.GraftConf.maxBrutePairs)
      throw new IllegalStateException(
        s"embedPairBlocks: exact verify priced at $nPairs pairs " +
          s"(cap ${graft.GraftConf.maxBrutePairs}) at t=$t with the angular prune void — " +
          "raise t above the measured noise floor (s_noise_floor / " +
          "Similarity.effectiveThreshold) so blocking prunes, or accept an " +
          "approximate prefilter; an exact all-pairs answer at this volume is the " +
          "workload, not a plan defect")
    val s = e.sparkSession
    val nb = math.max(1, math.ceil(n.toDouble / graft.GraftConf.embedBruteBlockRows).toInt)
    import s.implicits._
    val bp = (for { ba <- 0 until nb; bb <- ba until nb } yield (ba.toLong * nb + bb, ba, bb))
      .toDF("pid", "ba", "bb")
    val withB = e.withColumn("blk", pmod(col("vec_id"), lit(nb)).cast("int"))
    val lefts = withB.join(broadcast(bp), col("blk") === col("ba"))
      .select(col("pid"), (col("ba") === col("bb")).as("same"),
        col("vec_id").as("ia"), col("v").as("v_a"), col("norm").as("n_a"))
    val rights = withB.join(broadcast(bp), col("blk") === col("bb"))
      .select(col("pid"), col("vec_id").as("ib"), col("v").as("v_b"), col("norm").as("n_b"))
    lefts.join(rights, "pid")
      // same-block pids see each unordered pair twice (both sides carry
      // the block) — keep the ordered half; cross-block pids see it
      // exactly once (each endpoint sits on the side its block landed)
      .filter(!col("same") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("vec_a"),
        greatest(col("ia"), col("ib")).as("vec_b"),
        // dot is element-commutative, so (v_a,v_b) order never affects
        // the accumulated double — bit-identical to the oracle's a<b form
        ExactRound.r(dot_product(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6).as("cosine"))
      .filter(col("cosine") >= t)
      .orderBy("vec_a", "vec_b")
  }

  val embedDupSql: String =
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}
      |SELECT pa AS vec_a, pb AS vec_b, cosine
      |FROM pairs
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Semantic dedup groups: connected components over the embedding
    * near-dup pair graph ([[embedDup]]) — the composition step real
    * pipelines run to keep one representative per semantic cluster.
    * Exactly the [[dupClusters]] machinery applied to the vector space
    * instead of the n-gram space. */
  def embedClusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(embedDup(s, d).select("vec_a", "vec_b"))
      .select(col("id").as("vec_id"), col("label").as("cluster_id"))
      .orderBy("vec_id")

  val embedClustersSql: String =
    s"""WITH RECURSIVE ${OracleCtes.embedPairsCtes(0.4)}, edges AS (
      |  SELECT pa AS ea, pb AS eb FROM pairs UNION SELECT pb, pa FROM pairs
      |), reach AS (
      |  SELECT DISTINCT ea AS src, ea AS dst FROM edges
      |  UNION
      |  SELECT r.src, g.eb FROM reach r JOIN edges g ON r.dst = g.ea
      |)
      |SELECT src AS vec_id, min(dst) AS cluster_id
      |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin

  /** CLUSTER LABEL PURITY — the audit that decides whether CC near-dup
    * clusters can double as SEMANTIC groups: each embedding cluster
    * ([[embedClusters]]) scored against the corpus' ground-truth
    * `label` column — size, distinct labels, the modal label
    * (min-struct argmax, ties to the smaller label — deterministic and
    * engine-portable) and purity = modal share. Low purity means
    * transitive closure glued semantically-unrelated docs (the
    * d_overcollapse failure mode seen from the LABEL side); an
    * operator reads this before using dedup clusters for anything but
    * dedup. Two partial-aggregable aggregates over the label table —
    * nothing cluster-sized crosses the shuffle twice. */
  def clusterPurity(s: SparkSession, d: String): DataFrame = {
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("lbl"))
    embedClusters(s, d).join(labels, "vec_id")
      .groupBy("cluster_id", "lbl").agg(count(lit(1)).as("cnt"))
      .groupBy("cluster_id")
      .agg(sum("cnt").as("size"), count(lit(1)).as("n_labels"),
        min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
      .select(col("cluster_id"), col("size"), col("n_labels"),
        col("m.l").as("modal_label"), (-col("m.nc")).as("modal_cnt"),
        ExactRound.r((-col("m.nc")).cast("double") / col("size"), 6).as("purity"))
      .orderBy("cluster_id")
  }

  /** SQL twin: same recursive-CC clusters, scalar-key arg_min for the
    * modal label (modal count = max(cnt) — the argmax's own count). */
  val clusterPuritySql: String =
    s"""WITH RECURSIVE ${OracleCtes.embedPairsCtes(0.4)}, edges AS (
      |  SELECT pa AS ea, pb AS eb FROM pairs UNION SELECT pb, pa FROM pairs
      |), reach AS (
      |  SELECT DISTINCT ea AS src, ea AS dst FROM edges
      |  UNION
      |  SELECT r.src, g.eb FROM reach r JOIN edges g ON r.dst = g.ea
      |), cl AS (
      |  SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src
      |), lc AS (
      |  SELECT cl.cluster_id, CAST(em.label AS BIGINT) AS lbl,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM cl JOIN embeddings em USING (vec_id) GROUP BY 1, 2
      |)
      |SELECT cluster_id, CAST(sum(cnt) AS BIGINT) AS size,
      |  CAST(count(*) AS BIGINT) AS n_labels,
      |  arg_min(lbl, -cnt * 1099511627776 + lbl) AS modal_label,
      |  CAST(max(cnt) AS BIGINT) AS modal_cnt,
      |  ${graft.operators.ExactRound.rSql("CAST(max(cnt) AS DOUBLE) / sum(cnt)", 6)} AS purity
      |FROM lc GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Bloom-filter decontamination pre-filter — the membership sketch a
    * 100 TB pipeline consults BEFORE paying any join: train-split
    * fingerprints set k=3 positions (salted djb2, the engine's own
    * partitioner hash) in an m=8192-bit space; an eval doc whose 3
    * positions aren't all set is GUARANTEED not an exact duplicate of
    * any train doc and skips the exact-verify join entirely. Emits per
    * eval doc: hit count, the bloom verdict, and the ground-truth
    * membership — so the result itself certifies the no-false-negative
    * invariant (is_member = 1 ⇒ maybe_member = 1; the oracle recomputes
    * both sides). At production scale the m-bit filter is built by
    * partial aggregation and broadcast as a bitset (Spark ships
    * `bloom_filter_agg`/`might_contain` for exactly this; the explicit
    * positions formulation here is the same math with engine-portable
    * hashes), and only bloom-positive docs — here deliberately all docs,
    * to exhibit the false-positive rate — take the exact join. Sized
    * m/n ≈ 33 bits/key at sf0.01, k=3 → FP rate ≈ (1-e^(-3n/m))³ ≈ 0.1%;
    * production sizes m to the train-split cardinality the same way. */
  def bloom(s: SparkSession, d: String): DataFrame = {
    val m = 8192
    val fp = Tokens.fingerprint(col("text"))
    val docs = Tables.documents(s, d).select(col("doc_id"), fp.as("fp"))
    val positions = docs.select(col("doc_id"), col("fp"),
      explode(array((0 until 3).map(i =>
        graft.functions.Djb2.djb2_partition(concat(lit(s"$i:"), col("fp")), m)
          .cast("bigint")): _*)).as("pos"))
    val bits = positions.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("pos").distinct().withColumn("hit", lit(1L))
    val trainFps = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("fp").distinct().withColumn("im", lit(1))
    positions.filter(pmod(col("doc_id"), lit(2)) === 1)
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy("doc_id", "fp")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .join(broadcast(trainFps), Seq("fp"), "left")
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") === 3).cast("int").as("maybe_member"),
        coalesce(col("im"), lit(0)).as("is_member"))
      .orderBy("doc_id")
  }

  val bloomSql: String =
    s"""WITH norm AS (
      |  SELECT doc_id, ${OracleCtes.fingerprintSql("text")} AS fp
      |  FROM documents
      |), keys AS (
      |  SELECT doc_id, fp, CAST(i AS VARCHAR) || ':' || fp AS key
      |  FROM norm, (SELECT unnest([0, 1, 2]) AS i)
      |), pos AS (
      |  SELECT doc_id, fp, CAST(${OracleCtes.djb2Sql("key")} % 8192 AS BIGINT) AS pos
      |  FROM keys
      |), bits AS (
      |  SELECT DISTINCT pos FROM pos WHERE doc_id % 2 = 0
      |), evalhits AS (
      |  SELECT p.doc_id, p.fp,
      |    CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |  FROM pos p LEFT JOIN bits b ON p.pos = b.pos
      |  WHERE p.doc_id % 2 = 1 GROUP BY 1, 2
      |), trainfp AS (
      |  SELECT DISTINCT fp FROM norm WHERE doc_id % 2 = 0
      |)
      |SELECT e.doc_id, e.n_hits, CAST(e.n_hits = 3 AS INT) AS maybe_member,
      |  CAST(t.fp IS NOT NULL AS INT) AS is_member
      |FROM evalhits e LEFT JOIN trainfp t USING (fp)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------- incremental minhash probe

  /** INCREMENTAL MinHash near-dup — the daily-ingest shape of
    * [[ngramJaccard]]: docs with doc_id % 10 == 0 play today's delta,
    * the rest the standing corpus. Instead of re-banding everything,
    * the delta's band rows PROBE the standing band index: candidates
    * are exactly the band collisions with ≥ 1 delta endpoint, so the
    * day's work is O(|delta| · bands + collisions) — never re-paying
    * the corpus, the argument that makes near-dedup sustainable at
    * 100 TB (the [[bucketedDedup]] zero-shuffle story, applied to the
    * sketch index; in production the banded side is the persisted
    * daily index, bucketed by (band_idx, band_hash), and the probe is
    * a bucket-pruned join). Band parameters are the verify
    * configuration (64 × 2 — miss 1e-8 at j = 0.5), surviving
    * candidates exact-verified on shingle sets, so the ORACLE equality
    * is the operational claim itself: the incremental probe returns
    * precisely the full brute-force pair table restricted to
    * delta-touching pairs — nothing lost by not re-running the corpus.
    * A production delta also applies the [[bandCandidates]]
    * representative guard before probing; the probe side here is
    * delta-sized, which bounds the join the same way. */
  def incrementalMinhash(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    val banded = sigs.select(col("doc_id"),
        posexplode(graft.functions.MinHashFns.band_hashes(
          col("sig"), graft.GraftConf.lshBandRowsVerify)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val probe = banded.filter(col("doc_id") % 10 === 0)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("p"))
    val cands = probe
      .join(banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("q")),
        Seq("band_idx", "band_hash"))
      .filter(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("doc_a"), greatest(col("p"), col("q")).as("doc_b"))
      .distinct()
    // r13: hashed sorted shingles + sorted_jaccard (see ngramJaccardBuild;
    // collision bound: [[graft.functions.Hash64Collision]])
    val shA = hashedShingleSide(sigs, "doc_a", "sh_a")
    val shB = hashedShingleSide(sigs, "doc_b", "sh_b")
    cands.join(shA, "doc_a").join(shB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        ExactRound.r(
          graft.functions.MinHashFns.sorted_jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .withColumn("delta_internal",
        (col("doc_a") % 10 === 0) && (col("doc_b") % 10 === 0))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: the full brute-force pair table RESTRICTED to pairs with a
    * delta endpoint — equality certifies the probe's completeness. */
  val incrementalMinhashSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}
       |SELECT pa AS doc_a, pb AS doc_b, ${OracleCtes.ngramJaccardExpr} AS jaccard,
       |  (pa % 10 = 0 AND pb % 10 = 0) AS delta_internal
       |FROM ng_pair
       |WHERE ${OracleCtes.ngramJaccardExpr} >= 0.5 AND (pa % 10 = 0 OR pb % 10 = 0)
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------ n-gram-level bloom

  /** N-GRAM-LEVEL Bloom decontamination — the Lee et al. variant
    * [[bloom]] (whole-document fingerprints) doesn't cover: an eval
    * document is contaminated if ANY of its 8-token n-grams appears in
    * the protected benchmark set, not just if the whole text matches.
    * Construction: the even-doc half plays the benchmark suite; its
    * distinct 8-gram shingles set 3 Bloom positions each (djb2 low 31
    * bits pushed through 3 affine probes mod a Mersenne prime, then
    * mod m = 2^17 — the minhash permutation arithmetic, exact in both
    * engines). Odd docs probe: a gram is FLAGGED iff all 3 of its
    * positions are set; per doc the result reports gram count, flagged
    * count, the exact ground-truth count (grams literally present in
    * the benchmark set — the d_bloom maybe/is discipline, so the
    * sketch's false-positive behavior is measured, never assumed) and
    * the contamination verdict.
    *
    * Scale shape: the Bloom BIT SET is bounded by m = 131072 rows no
    * matter the corpus — it broadcasts by construction (the compact
    * artifact a 100 TB decontamination run ships to every executor,
    * while the benchmark gram set itself may not fit). The ground-truth
    * column pays one gram equi-join — the certification cost, dropped
    * in production exactly like q21_approx's rank-check pass. */
  def bloomNgram(s: SparkSession, d: String): DataFrame = {
    val m = 131072L // 2^17 bits
    val docs = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        graft.functions.MinHashFns.word_shingles(Tokens.words(col("text")), 8).as("g8"))
      .filter(size(col("g8")) > 0)
    val grams = docs.select(col("doc_id"), explode(col("g8")).as("g"))
    val h = grams.withColumn("h31",
      graft.functions.Djb2.djb2_hash(col("g")).bitwiseAND(lit(2147483647L)))
    val pos = h.select(col("doc_id"), col("g"),
      explode(array(BloomAB.map { case (a, b) =>
        (col("h31") * a + b) % 2147483647L % m
      }: _*)).as("pos"))
    val bits = pos.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("pos").distinct().withColumn("hit", lit(1L))
    val train = grams.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select("g").distinct().withColumn("in_train", lit(1L))
    val gramHits = pos.filter(pmod(col("doc_id"), lit(2)) === 1)
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy("doc_id", "g")
      .agg((sum(coalesce(col("hit"), lit(0L))) === 3).as("flagged"))
    gramHits.join(train, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(coalesce(col("in_train"), lit(0L))).as("n_true"))
      .select(col("doc_id"), col("n_grams"), col("n_flagged"), col("n_true"),
        (col("n_flagged") > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** The 3 Bloom probes as (a, b) affine coefficients over h31 — LCG
    * multipliers, arbitrary but pinned identically in the oracle. */
  private val BloomAB = Seq((1664525L, 1013904223L), (22695477L, 1L), (1103515245L, 12345L))

  val bloomNgramSql: String = {
    val abLits = BloomAB.map { case (a, b) => s"[$a, $b]" }.mkString("[", ", ", "]")
    s"""WITH g8 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id, ${OracleCtes.shinglesSql("toks", 8)} AS g
       |    FROM (SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks)-7, 0))) AS i
       |          FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks
       |                FROM documents)
       |          WHERE len(toks) >= 8)
       |  )
       |), dg AS MATERIALIZED (
       |  SELECT DISTINCT g FROM g8
       |), h31 AS MATERIALIZED (
       |  SELECT g, CAST(${OracleCtes.djb2Sql("g")} % 2147483648 AS BIGINT) AS h31 FROM dg
       |), pos AS MATERIALIZED (
       |  SELECT g, CAST((ab[1]*h31 + ab[2]) % 2147483647 % 131072 AS BIGINT) AS pos
       |  FROM h31, (SELECT unnest($abLits) AS ab)
       |), bits AS MATERIALIZED (
       |  SELECT DISTINCT p.pos FROM pos p JOIN g8 t ON p.g = t.g WHERE t.doc_id % 2 = 0
       |), train AS MATERIALIZED (
       |  SELECT DISTINCT g FROM g8 WHERE doc_id % 2 = 0
       |), gramhit AS MATERIALIZED (
       |  SELECT e.doc_id, e.g,
       |    CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nh
       |  FROM g8 e JOIN pos p ON e.g = p.g LEFT JOIN bits b ON p.pos = b.pos
       |  WHERE e.doc_id % 2 = 1 GROUP BY 1, 2
       |)
       |SELECT gh.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN gh.nh = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN gh.nh = 3 THEN 1 ELSE 0 END) > 0 AS INT) AS contaminated
       |FROM gramhit gh LEFT JOIN train t ON gh.g = t.g
       |GROUP BY gh.doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------- containment join

  /** Exact containment join (quote/subset detection): pairs where the
    * SMALLER document's shingle set is ≥ 80% contained in the larger's —
    * the asymmetric relation Jaccard misses (a paragraph quoted inside a
    * book has Jaccard ≈ 0, containment 1.0). Prefix filtering adapts to
    * containment one-sidedly: A misses at most ⌊0.2·|A|⌋ of its shingles
    * from any 0.8-container, so among A's ⌊0.2·|A|⌋+1 RAREST shingles at
    * least one hits B — candidates are A-prefix ⋈ B-all on the 64-bit
    * shingle hash, provably zero false negatives, then one exact verify.
    * "Exact" is over the 64-BIT word_hashes, not the shingle strings the
    * oracle intersects: an xxhash64 collision between distinct shingles
    * can only INFLATE an intersection (a false positive admitted with
    * probability ≈ n_A·n_B·2⁻⁶⁴ per pair — the same collision argument
    * [[minhashLshSql]] documents; false negatives remain impossible).
    * The container side keeps full posting lists; at web scale the df
    * head would be band-partitioned (a hot boilerplate shingle fans out
    * its postings), which shards work without affecting exactness. */
  /** Frequency-ranked token rows for the containment join (window
    * reused by the prefix and the full `all` side). */
  private[graft] def containmentRanked(toks: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy("doc_id")
    toks
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rnk", row_number().over(wDoc.orderBy("f", "h")))
  }

  /** Containment prefix: length n − ⌈0.8n⌉ + 1 in EXACT integer
    * arithmetic (⌈4n/5⌉ = (4n+4) div 5) — double rounding of n*0.8 can
    * shorten the prefix at threshold sizes, which would be a silent
    * false negative. */
  private[graft] def containmentPrefix(ranked: DataFrame): DataFrame =
    ranked
      .filter(col("rnk") <= expr("n - (4*n + 4) div 5 + 1"))
      .select(col("doc_id").as("doc_small"), col("n").as("n_s"), col("h"), col("f"))

  /** Exact pre-orientation-filter candidate count of the containment
    * join: the container side keeps FULL posting lists, so each prefix
    * row meets f_h rows of `all` (one of them its own doc) —
    * priced = Σ_pref (f − 1). */
  private[graft] def containmentCandPriced(pref: DataFrame): Long =
    pref.agg(coalesce(sum(col("f") - 1), lit(0L))).head().getLong(0)

  def containmentJoin(s: SparkSession, d: String): DataFrame = {
    val t = 0.8
    // packed dense-id signatures + merge-pass overlap in the verify —
    // the setsimJoin r12/r13 verify-stage findings apply verbatim here
    // (same candidate ⋈ doc-signature joins, same per-pair merge)
    val prep = allPairsPrep(s, d)
    val ranked = containmentRanked(prep.toks)
    val pref = containmentPrefix(ranked)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val priced = containmentCandPriced(pref)
    val (nDocs, totSig) = packedSigStats(prep.packed)
    allPairsRefuseIfOverBudget(s, "containmentJoin", priced, nDocs, totSig, {
      pref.unpersist(blocking = false); prep.unpersistAll()
    })
    val all = ranked.select(col("doc_id").as("doc_big"), col("n").as("n_b"), col("h"))
    val cands = pref.join(all, "h")
      .filter(col("n_s") < col("n_b") ||
        (col("n_s") === col("n_b") && col("doc_small") < col("doc_big")))
      .select("doc_small", "doc_big")
      .distinct()
    val pS = prep.packed.select(
      col("doc_id").as("doc_small"), col("p").as("p_s"), col("n").as("n_small"))
    val pB = prep.packed.select(col("doc_id").as("doc_big"), col("p").as("p_b"))
    cands.join(pS.hint("SHUFFLE_HASH"), "doc_small")
      .join(pB.hint("SHUFFLE_HASH"), "doc_big")
      .select(col("doc_small"), col("doc_big"),
        ExactRound.r(
          graft.functions.PackedSetFns.packed_overlap(col("p_s"), col("p_b")).cast("double")
            / col("n_small"), 6).as("containment"))
      .filter(col("containment") >= t)
      .orderBy("doc_small", "doc_big")
  }

  /** Brute-force oracle (blocking is performance-only). The directed
    * small→big orientation ((n, doc_id)-lexicographic) is recovered
    * from the undirected ng_pair row: pa is the small side exactly
    * when na ≤ nb (ties break to the lower id, which pa already is);
    * the denominator least(na, nb) is the small side's shingle count —
    * the same two IEEE operands as len(list_intersect)/len(a.sh). */
  val containmentJoinSql: String = {
    val cont = ExactRound.rSql("CAST(isz AS DOUBLE) / least(na, nb)", 6)
    s"""WITH ${OracleCtes.ngramOverlap}
       |SELECT CASE WHEN na <= nb THEN pa ELSE pb END AS doc_small,
       |  CASE WHEN na <= nb THEN pb ELSE pa END AS doc_big,
       |  $cont AS containment
       |FROM ng_pair
       |WHERE $cont >= 0.8
       |ORDER BY doc_small, doc_big""".stripMargin
  }

  // -------------------------------------------- AllPairs candidate budget

  /** CANDIDATE-BUDGET DECISION PIN (r12 verdict item 2) — the AllPairs
    * prefix-filter paths' refusal tier made oracle-visible, the
    * s_band_budget / d_cap_fires discipline: [[setsimJoin]] and
    * [[containmentJoin]] price their pre-distinct candidate stream
    * from the prefix census ([[setsimCandPriced]] /
    * [[containmentCandPriced]] — exact integer arithmetic over the
    * same rare-first prefixes the joins actually build) and refuse
    * against the resource-derived shuffle budget BEFORE any pair row
    * exists. This query runs the PRODUCTION census + decision
    * arithmetic under pinned budget literals covering both branches
    * (proceed / refuse) for both paths; the RESOURCE-derived budget is
    * the one input the oracle cannot see (it enters production
    * decisions only), so the pin substitutes literals exactly like
    * s_band_budget does. The twin replays the whole chain — distinct
    * word-3-grams, the djb2·φ⁻¹ 64-bit hash ([[graft.functions
    * .MinHashImpl.wordHashes]]), global frequency, the (f, h)
    * rare-first windows, both prefix-length formulas, both censuses —
    * in integer arithmetic both engines compute exactly. */
  def setsimBudget(s: SparkSession, d: String): DataFrame = {
    val prep = allPairsPrep(s, d)
    val pricedSetsim = setsimCandPriced(setsimPrefix(prep.toks, 0.5))
    val pricedCont = containmentCandPriced(containmentPrefix(containmentRanked(prep.toks)))
    val (nDocs, totSig) = packedSigStats(prep.packed)
    prep.unpersistAll()
    val avgSig = allPairsAvgSigBytes(nDocs, totSig)
    // three pinned budgets per path: refuse-both / the tier separator
    // (64 B/candidate sits between the 32 B candidate price and the
    // 48+2·avgSig verify price, so the VERIFY tier alone refuses —
    // the exact regime the measured 1000× ENOSPC ran in) / proceed
    val rows = for {
      (path, priced) <- Seq(("containment", pricedCont), ("setsim", pricedSetsim))
      budget <- Seq(64L, 64L * math.max(priced, 2L), 1000000000000000L)
    } yield {
      val bound = priced * graft.GraftConf.allPairsCandRowBytes
      val vBound = allPairsVerifyBound(priced, avgSig)
      (path, budget, priced, bound, bound > budget,
        avgSig, vBound, vBound > budget)
    }
    import s.implicits._
    rows.toDF("path", "budget_bytes", "priced", "bound_bytes", "refused",
        "avg_sig_bytes", "verify_bound_bytes", "verify_refused")
      .orderBy("path", "budget_bytes")
  }

  /** Oracle: distinct grams → per-gram djb2 ([[OracleCtes.djb2Sql]],
    * HUGEINT 2⁶⁴ wraparound) × the golden-ratio avalanche constant, folded to
    * the SIGNED 64-bit value Spark orders by; then the two prefix
    * censuses and the priced×rowBytes decision per pinned budget.
    * The u64·u64 avalanche multiply would overflow INT128, so the
    * constant is split into 32-bit halves:
    * a·b mod 2⁶⁴ = ((a·b_hi mod 2³²)·2³² + a·b_lo) mod 2⁶⁴ with
    * 0x9E3779B97F4A7C15 = 2654435769·2³² + 2135587861 — every
    * intermediate stays under 2⁹⁶. */
  val setsimBudgetSql: String = {
    val rowBytes = graft.GraftConf.allPairsCandRowBytes
    val vOverhead = graft.GraftConf.allPairsVerifyRowOverheadBytes
    // unsigned-LEB128 length of a non-negative BIGINT — the exact
    // per-value byte count PackedSetImpl.writeVarint produces (ids
    // here are dense vocabulary ranks, far below the 2³⁵ top case)
    def vl(x: String): String =
      s"""(CASE WHEN $x < 128 THEN 1 WHEN $x < 16384 THEN 2
         |  WHEN $x < 2097152 THEN 3 WHEN $x < 268435456 THEN 4
         |  WHEN $x < 34359738368 THEN 5 ELSE 9 END)""".stripMargin
    s"""WITH ${OracleCtes.ngramGrams}, sb_dg AS MATERIALIZED (
       |  SELECT DISTINCT g FROM ng_grams
       |), sb_h AS MATERIALIZED (
       |  SELECT g, ${OracleCtes.signedSql("hu")} AS h
       |  FROM (SELECT g,
       |          (((hash * 2654435769) % 4294967296) * 4294967296 + hash * 2135587861)
       |            % ${OracleCtes.m64} AS hu
       |        FROM (SELECT g, ${OracleCtes.djb2Sql("g")} AS hash FROM sb_dg))
       |), sb_tok AS MATERIALIZED (
       |  SELECT t.doc_id, hh.h FROM ng_grams t JOIN sb_h hh ON hh.g = t.g
       |), sb_f AS MATERIALIZED (
       |  SELECT h, CAST(count(*) AS BIGINT) AS f FROM sb_tok GROUP BY h
       |), sb_rk AS MATERIALIZED (
       |  SELECT t.doc_id, t.h, f.f,
       |    CAST(count(*) OVER (PARTITION BY t.doc_id) AS BIGINT) AS n,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY f.f, t.h) AS rnk
       |  FROM sb_tok t JOIN sb_f f ON f.h = t.h
       |), sb_ps AS (
       |  SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT) AS priced
       |  FROM (SELECT count(*) AS c FROM sb_rk
       |        WHERE rnk <= n - CAST(ceil(n * 0.5) AS BIGINT) + 1 GROUP BY h)
       |), sb_pc AS (
       |  SELECT CAST(coalesce(sum(f - 1), 0) AS BIGINT) AS priced
       |  FROM sb_rk WHERE rnk <= n - (4*n + 4) // 5 + 1
       |), sb_hid AS MATERIALIZED (
       |  SELECT h, CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS hid FROM sb_f
       |), sb_gap AS (
       |  SELECT doc_id, hid,
       |    hid - lag(hid) OVER (PARTITION BY doc_id ORDER BY hid) AS gap
       |  FROM (SELECT t.doc_id, i.hid FROM sb_tok t JOIN sb_hid i USING (h))
       |), sb_sig AS MATERIALIZED (
       |  -- exact pack_sorted bytes per doc: varint(count) + varint(v0)
       |  -- + varint(gap) for the rest (LEB128, delta over sorted ids)
       |  SELECT doc_id,
       |    CAST(${vl("count(*)")}
       |      + sum(${vl("(CASE WHEN gap IS NULL THEN hid ELSE gap END)")}) AS BIGINT) AS sig_bytes
       |  FROM sb_gap GROUP BY doc_id
       |), sb_avg AS (
       |  SELECT CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST((sum(sig_bytes) + count(*) - 1) // count(*) AS BIGINT) END AS avg_sig
       |  FROM sb_sig
       |)
       |SELECT path, budget_bytes, priced, priced * $rowBytes AS bound_bytes,
       |  priced * $rowBytes > budget_bytes AS refused,
       |  (SELECT avg_sig FROM sb_avg) AS avg_sig_bytes,
       |  priced * ($vOverhead + 2 * (SELECT avg_sig FROM sb_avg)) AS verify_bound_bytes,
       |  priced * ($vOverhead + 2 * (SELECT avg_sig FROM sb_avg)) > budget_bytes AS verify_refused
       |FROM (SELECT 'setsim' AS path, (SELECT priced FROM sb_ps) AS priced
       |      UNION ALL
       |      SELECT 'containment' AS path, (SELECT priced FROM sb_pc) AS priced),
       |     LATERAL (SELECT unnest([CAST(64 AS BIGINT), 64 * greatest(priced, 2),
       |                             CAST(1000000000000000 AS BIGINT)]) AS budget_bytes)
       |ORDER BY path, budget_bytes""".stripMargin
  }

  // -------------------------------------------------- cluster report

  /** Dedup savings report — the number a data lead actually asks for
    * ("what does running near-dup dedup buy us"): cluster-size
    * distribution of [[dupClusters]]'s components with, per size, the
    * cluster count, total/redundant document counts and the exact
    * characters removed if each cluster keeps its min-id canonical.
    * One join of the CC labels against the doc-length column and two
    * tiny aggregates; at 100 TB this is the CC pass plus a partial-agg
    * rollup. */
  def clusterStats(s: SparkSession, d: String): DataFrame = {
    val labeled = dupClusters(s, d)
      .join(Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id")
    val perCluster = labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("size"),
        sum("n_chars").as("total_chars"),
        min(struct(col("doc_id"), col("n_chars"))).as("keeper"))
      .select(col("cluster_id"), col("size"), col("total_chars"),
        (col("total_chars") - col("keeper.n_chars")).as("redundant_chars"))
    perCluster.groupBy("size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("size")).as("n_docs"),
        sum(col("size") - 1).as("redundant_docs"),
        sum("redundant_chars").as("redundant_chars"))
      .orderBy("size")
  }

  val clusterStatsSql: String =
    s"""WITH RECURSIVE ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS ea, pb AS eb FROM pairs UNION SELECT pb, pa FROM pairs
       |), reach AS (
       |  SELECT DISTINCT ea AS src, ea AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
       |), clusters AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
       |), percluster AS (
       |  SELECT c.cluster_id, count(*) AS size,
       |    CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
       |    CAST(sum(d.n_chars) - min_by(d.n_chars, c.doc_id) AS BIGINT) AS redundant_chars
       |  FROM clusters c JOIN documents d USING (doc_id)
       |  GROUP BY c.cluster_id
       |)
       |SELECT size, count(*) AS n_clusters,
       |  CAST(sum(size) AS BIGINT) AS n_docs,
       |  CAST(sum(size - 1) AS BIGINT) AS redundant_docs,
       |  CAST(sum(redundant_chars) AS BIGINT) AS redundant_chars
       |FROM percluster GROUP BY size ORDER BY size""".stripMargin

  // ------------------------------------------------------ LSH tuning

  /** LSH banding parameter sweep — the measurement that gates pointing
    * an index at 100 TB (the [[graft.operators.Similarity]] recall_eval
    * twin, for the dedup index): for band widths r ∈ {2, 4, 8} over the
    * same 128-perm signatures, the candidate-pair count, how many true
    * (exact Jaccard ≥ 0.5) pairs the banding surfaces, and the realized
    * precision/recall against the exact pair set. Wider bands (larger r)
    * collapse the S-curve: r=2 is effectively lossless at j≥0.5 but
    * floods candidates at web scale; r=8 prunes hard and visibly loses
    * recall — this query SHOWS that tradeoff instead of asserting it.
    *
    * Work-sharing (this was the suite's most expensive query until it
    * was restructured): the r=2 candidate set is the superset — an
    * aligned wider band matching implies both its halves match, so
    * cand(8) ⊆ cand(4) ⊆ cand(2) — and the truth set (exact j ≥ 0.5,
    * the [[ngramJaccard]] semantics) is reachable from it with ONE
    * shingle verify pass. So: band-join r=2 once, persist; verify its
    * pairs once into the truth table, persist; and score every config
    * by a pair-equi-join against that truth table — the 128-element
    * shingle arrays are joined and intersected exactly once per unique
    * pair instead of once per (config, pair). n_found = |cand_r ∩
    * truth| relies on cand2 ⊇ {true pairs}, which is the same
    * (1−j²)^64 ≤ 1e-8 completeness argument [[ngramJaccard]] already
    * stands on.
    *
    * Candidates come from 64-BIT band-hash equality while the oracle
    * compares the signature slices themselves; unlike [[minhashLsh]]
    * there is no downstream estimate filter to drop collision-only
    * candidates, so n_candidates can in principle exceed the oracle's by
    * a hash collision between unequal slices (probability ≈ 2⁻⁶⁴ per
    * slice pair — the same accepted-collision argument documented at
    * [[minhashLshSql]]; equal slices always collide, so recall is
    * unaffected). */
  def lshTune(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d)
    // r13: verify over SORTED 64-BIT SHINGLE HASHES with the
    // sorted_jaccard merge pass instead of per-pair
    // array_intersect/array_union over string arrays (the r12
    // d_setsim_join lesson: ~110 µs/pair of hash-set build + result
    // array, the whole verify cost). Join strategy is left to the
    // planner (preferSortMergeJoin=false session-wide: broadcast when
    // a doc side fits, shuffled-hash past that — an explicit
    // SHUFFLE_HASH hint here measurably LOST to broadcast at bench
    // scale). Same exact integers, same one IEEE division — the
    // collision bound is [[graft.functions.Hash64Collision]]'s, and
    // the string-exact twin would flag a collision.
    val shA = sigs.select(col("doc_id").as("doc_a"),
      sort_array(graft.functions.MinHashFns.word_hashes(col("sh"))).as("sh_a"))
    val shB = sigs.select(col("doc_id").as("doc_b"),
      sort_array(graft.functions.MinHashFns.word_hashes(col("sh"))).as("sh_b"))
    // one signature-group table feeds all three band geometries
    val groups = sigGroups(sigs.select("doc_id", "sig"))
    val cand2 = bandCandidates(groups, bandRows = 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // ONE shingle verify over the superset candidate list = the truth
    // table (identical arithmetic to [[ngramJaccard]])
    val truthPairs = cand2
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("jacc", ExactRound.r(
        graft.functions.MinHashFns.sorted_jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val allCands = cand2.withColumn("band_rows", lit(2)) unionByName
      Seq(4, 8).map { r =>
        bandCandidates(groups, bandRows = r)
          .withColumn("band_rows", lit(r))
      }.reduce(_ unionByName _)
    val perConfig = allCands
      .join(truthPairs, Seq("doc_a", "doc_b"), "left")
      .groupBy("band_rows")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_found"))
    val truth = truthPairs.agg(count(lit(1)).as("n_true"))
    perConfig.crossJoin(broadcast(truth))
      .select(col("band_rows").cast("long").as("band_rows"),
        (lit(128) / col("band_rows")).cast("long").as("n_bands"),
        col("n_candidates"), col("n_found"), col("n_true"),
        when(col("n_candidates") === 0, 0.0)
          .otherwise(col("n_found").cast("double") / col("n_candidates")).as("precision"),
        when(col("n_true") === 0, 0.0)
          .otherwise(col("n_found").cast("double") / col("n_true")).as("recall"))
      .orderBy("band_rows")
  }

  /** Oracle: the [[minhashLshSql]] signature replay, then a brute pair
    * scan per band width. */
  val lshTuneSql: String = {
    // band candidates per r through OracleCtes.lshCandCtes (slice
    // buckets, the hot-bucket cap, identical-signature pairs — exactly
    // bandCandidateReps' construction); candidate jaccard comes from a
    // LEFT JOIN against ng_pair — a candidate absent there shares zero
    // shingles, jaccard 0.0
    val bands = Seq(2, 4, 8).map(OracleCtes.lshCandCtes).mkString(", ")
    val jacOnPair = ExactRound.rSql("CAST(p.isz AS DOUBLE) / (p.na + p.nb - p.isz)", 6)
    val configs = Seq(2, 4, 8).map { r =>
      s"""SELECT $r AS band_rows, ${128 / r} AS n_bands,
         |  count(*) AS n_candidates,
         |  CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_found
         |FROM (
         |  SELECT coalesce($jacOnPair, 0.0) AS jacc
         |  FROM cand$r c LEFT JOIN ng_pair p ON p.pa = c.doc_a AND p.pb = c.doc_b
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${OracleCtes.ngramOverlap}, $ngramSigCtes, $bands, truth AS (
       |  SELECT count(*) AS n_true FROM ng_pair WHERE $jaccardSqlExpr >= 0.5
       |), cfg AS (
       |$configs
       |)
       |SELECT CAST(band_rows AS BIGINT) AS band_rows, CAST(n_bands AS BIGINT) AS n_bands,
       |  n_candidates, n_found, t.n_true,
       |  CASE WHEN n_candidates = 0 THEN 0.0
       |       ELSE CAST(n_found AS DOUBLE) / n_candidates END AS precision,
       |  CASE WHEN t.n_true = 0 THEN 0.0
       |       ELSE CAST(n_found AS DOUBLE) / t.n_true END AS recall
       |FROM cfg, truth t
       |ORDER BY band_rows""".stripMargin
  }

  // ------------------------------------------------- hot-bucket census

  /** LSH BAND-BUCKET CENSUS — the pre-flight audit the r9 100× probe
    * taught (operationalized the way [[graft.operators.Similarity.noiseFloor]]
    * operationalizes the cosine tail): before a banded dedup pass
    * commits at scale, measure the bucket-size distribution per band
    * geometry and PRICE the candidate join it implies. Corpus-common
    * elements (whitespace-run CDC chunks, boilerplate shingles) grow
    * some buckets linearly with the corpus — the probe measured a
    * 17 910-member bucket whose pairs alone were 1.6·10⁸ rows and a
    * 241 GB-spill disk DNF — so [[bandCandidateReps]] drops buckets
    * past [[graft.GraftConf.maxBandBucket]]; this table is how an
    * operator SEES that decision coming: per geometry, the occupied
    * bucket count, the largest bucket, how many buckets the cap would
    * drop, and the pair volume with and without the prune. All counts
    * are exact integers over the distinct-signature (rep) table, the
    * same unit [[bandCandidateReps]] pairs on. The census groups by
    * the band's VALUE (the SQL twin by the signature slice, the Spark
    * side by its 64-bit band hash — equal slices always hash equal,
    * and a cross-slice collision (~2⁻⁶⁴) is the same accepted
    * equivalence as [[minhashLshSql]]'s). */
  def hotBuckets(s: SparkSession, d: String): DataFrame = {
    val reps = signatures(s, d).select("sig").dropDuplicates("sig")
    val cap = graft.GraftConf.maxBandBucket
    Seq(2, 4, 8).map { r =>
      reps.select(posexplode(graft.functions.MinHashFns.band_hashes(col("sig"), r)))
        .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
        .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("b"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("b")).as("max_bucket"),
          sum(when(col("b") > cap, 1L).otherwise(0L)).as("n_hot"),
          // `div`, not `/`: long division keeps the sums exact integers
          // past 2^53 on the pathological corpora this census audits —
          // the DuckDB twin's `//` arithmetic is the contract
          sum(expr("b * (b - 1) div 2")).as("pairs_all"),
          sum(when(col("b") <= cap, expr("b * (b - 1) div 2")).otherwise(lit(0L)))
            .as("pairs_kept"))
        .select(lit(r.toLong).as("band_rows"), lit((NumPerms / r).toLong).as("n_bands"),
          col("n_buckets"), col("max_bucket"), col("n_hot"),
          col("pairs_all"), col("pairs_kept"),
          (col("n_hot") > 0).as("cap_fires"))
    }.reduce(_ unionByName _)
      .orderBy("band_rows")
  }

  /** Oracle: identical census over the slice-valued buckets of the
    * replayed signature table. */
  val hotBucketsSql: String = {
    val cap = graft.GraftConf.maxBandBucket
    val per = Seq(2, 4, 8).map { r =>
      s"""SELECT $r AS band_rows, ${128 / r} AS n_bands,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(b) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN b > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
         |  CAST(sum(b * (b - 1) // 2) AS BIGINT) AS pairs_all,
         |  CAST(sum(CASE WHEN b <= $cap THEN b * (b - 1) // 2 ELSE 0 END) AS BIGINT) AS pairs_kept,
         |  sum(CASE WHEN b > $cap THEN 1 ELSE 0 END) > 0 AS cap_fires
         |FROM bsz$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    val buckets = Seq(2, 4, 8).map(OracleCtes.lshBucketCte).mkString(", ")
    s"""WITH ${OracleCtes.ngramGrams}, $ngramSigCtes, $buckets
       |SELECT CAST(band_rows AS BIGINT) AS band_rows, CAST(n_bands AS BIGINT) AS n_bands,
       |  n_buckets, max_bucket, n_hot, pairs_all, pairs_kept, cap_fires
       |FROM ($per)
       |ORDER BY band_rows""".stripMargin
  }

  // ---------------------------------------------------- cap-fires gate

  /** THE CAP-FIRES REGIME, ORACLE-GATED (r9 verdict #7): at the
    * driver's corpus scales [[graft.GraftConf.maxBandBucket]] never
    * fires (largest measured bucket 326), so the 100×-critical prune
    * inside [[bandCandidateReps]] was unit-tested but never
    * hash-compared against DuckDB. This query manufactures the exact
    * pathology the cap exists for — the CDC/boilerplate shape where
    * EVERY document shares one corpus-common shingle — from the
    * documents table deterministically (12 planted docs per source
    * id over the first 500 ids — a bounded fixture, identical at
    * every sf; text `c1 c2 c3 u<pid>`: two shingles, one shared by the
    * whole corpus, j = 1/3 between unrelated docs — a FALSE candidate
    * the verify would discard after the join already blew up), plus
    * planted TRUE near-dups (source ids ≡ 0 mod 10 re-issue doc k=1's
    * unique token with one extra trailing token: j = 2/3 ≥ 0.5).
    * The common-shingle band buckets hold ~n/4 distinct signatures
    * (6 000 planted docs → ~1 500 ≫ cap), so the cap FIRES on every
    * band it was designed for, while each true pair still
    * collides through its size-2 unique-shingle buckets; the output
    * pins `cap_fired=true`, the post-cap candidate count, and
    * `found_all_planted` — every true pair survives the prune. The
    * twin replays planted corpus, signatures, banding, the cap and
    * the verify verbatim, so the prune's semantics are part of the
    * cross-engine contract exactly where they bite. */
  def capFires(s: SparkSession, d: String): DataFrame = {
    val m = 12
    val cap = graft.GraftConf.maxBandBucket
    val r = graft.GraftConf.lshBandRowsVerify
    // FIXTURE BOUND: the planted pathology is a pin, not a scale
    // probe — 500 source ids × 12 give ~1 500-member common buckets
    // (cap fires with 50% margin) at EVERY sf, and the suite stays
    // scan-dominated (unbounded, sf0.1's 60 000 planted docs made
    // this the suite's worst query at 21 s for no extra coverage)
    val src = Tables.documents(s, d).select("doc_id").filter(col("doc_id") < 500)
    val planted = src
      .select(col("doc_id").as("src_id"), explode(sequence(lit(0), lit(m - 1))).as("k"))
      .select((col("src_id") * m + col("k")).as("doc_id"),
        when(col("k") === m - 1 && col("src_id") % 10 === 0,
          concat(lit("c1 c2 c3 u"), (col("src_id") * m + 1).cast("string"), lit(" x")))
          .otherwise(concat(lit("c1 c2 c3 u"), (col("src_id") * m + col("k")).cast("string")))
          .as("text"))
    // cached like every signature table (CacheManager dedupes per plan);
    // the planted corpus is 2 shingles/doc, so the entry is tiny
    val sigs = signaturesOf(planted)
    val census = sigs.select("sig").dropDuplicates("sig")
      .select(posexplode(graft.functions.MinHashFns.band_hashes(col("sig"), r)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
      .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("b"))
      .agg(count(lit(1)).as("n_buckets"), max("b").as("max_bucket"),
        sum(when(col("b") > cap, 1L).otherwise(0L)).as("n_hot"))
    val shA = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val shB = sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val isz = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val candAgg = bandCandidates(sigGroups(sigs.select("doc_id", "sig")), bandRows = r)
      .join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("jacc",
        ExactRound.r(isz / (size(col("sh_a")) + size(col("sh_b")) - isz), 6))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jacc") >= 0.5, 1L).otherwise(0L)).as("n_found"))
    val plantedAgg = src.filter(col("doc_id") % 10 === 0)
      .agg(count(lit(1)).as("n_planted"))
    val docsAgg = src.agg((count(lit(1)) * m).as("n_docs"))
    census.crossJoin(candAgg).crossJoin(plantedAgg).crossJoin(docsAgg)
      .select(lit(r.toLong).as("band_rows"), col("n_docs"),
        col("n_buckets"), col("max_bucket"), col("n_hot"),
        (col("n_hot") > 0).as("cap_fired"),
        col("n_candidates"), col("n_found"), col("n_planted"),
        (col("n_found") === col("n_planted")).as("found_all_planted"))
  }

  /** Oracle: the full planted-corpus replay — construction, djb2 +
    * affine-perm signatures, per-geometry slice buckets, the
    * distinct-signature cap, candidate generation (cold-bucket
    * self-join + unconditional intra-group pairs) and the exact
    * shingle verify. */
  val capFiresSql: String = {
    val cap = graft.GraftConf.maxBandBucket
    val r = graft.GraftConf.lshBandRowsVerify
    val jacc = ExactRound.rSql("isz / (la + lb - isz)", 6)
    s"""WITH pd AS MATERIALIZED (
       |  SELECT s.doc_id * 12 + g.k AS pid,
       |    CASE WHEN g.k = 11 AND s.doc_id % 10 = 0
       |         THEN 'c1 c2 c3 u' || CAST(s.doc_id * 12 + 1 AS VARCHAR) || ' x'
       |         ELSE 'c1 c2 c3 u' || CAST(s.doc_id * 12 + g.k AS VARCHAR) END AS text
       |  FROM (SELECT doc_id FROM documents WHERE doc_id < 500) s,
       |       (SELECT unnest(generate_series(0, 11)) AS k) g
       |), docs AS MATERIALIZED (
       |  SELECT pid AS doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks)-2, 0)),
       |    i -> ${OracleCtes.shinglesSql("toks", 3)})) AS sh
       |  FROM (SELECT pid, ${OracleCtes.wordsSql("text")} AS toks FROM pd)
       |  WHERE len(toks) >= 3
       |), docsh AS (SELECT doc_id, unnest(sh) AS elem FROM docs
       |), ${OracleCtes.minhashSigCtes("docsh")}, ${OracleCtes.lshCandCtes(r)}, censu AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       |    CAST(max(b) AS BIGINT) AS max_bucket,
       |    CAST(sum(CASE WHEN b > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
       |  FROM bsz$r
       |), ver AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(sum(CASE WHEN $jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_found
       |  FROM (SELECT CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE) AS isz,
       |      len(da.sh) AS la, len(db.sh) AS lb
       |    FROM cand$r c JOIN docs da ON da.doc_id = c.doc_a JOIN docs db ON db.doc_id = c.doc_b)
       |), pl AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_planted
       |  FROM documents WHERE doc_id < 500 AND doc_id % 10 = 0
       |), nd AS (
       |  SELECT CAST(12 * count(*) AS BIGINT) AS n_docs
       |  FROM documents WHERE doc_id < 500)
       |SELECT CAST($r AS BIGINT) AS band_rows, n_docs, n_buckets, max_bucket, n_hot,
       |  n_hot > 0 AS cap_fired, n_candidates, n_found, n_planted,
       |  n_found = n_planted AS found_all_planted
       |FROM censu, ver, pl, nd""".stripMargin
  }

  // ------------------------------------------------------ keep-best

  /** Quality-aware canonical selection: within each near-dup cluster
    * ([[dupClusters]]'s connected components) keep the HIGHEST-quality
    * document (ties to the lowest id), not the arbitrary lowest id —
    * the difference between "dedup" and "dedup that deletes the clean
    * copy and keeps the OCR-mangled one". One window rank per cluster
    * on the (quality, id) composite. Only CLUSTERED docs appear:
    * [[dupClusters]] emits nodes of the near-dup pair graph, so a
    * document with no near-dup edge is absent from the output entirely
    * (rather than present with is_kept=true) — callers wanting the full
    * keep-list union the unclustered remainder back in, all of which is
    * kept by definition.
    * The quality join adds one shuffle on doc_id against the map-side
    * quality scan — at 100 TB this composition costs the CC pass plus
    * one join, nothing quadratic. */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val clusters = dupClusters(s, d) // (doc_id, cluster_id)
    val q = TextAnalysis.quality(s, d).select("doc_id", "quality_score")
    val wc = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(q, "doc_id")
      .withColumn("keep_id", first("doc_id").over(wc))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("keep_id"), (col("doc_id") === col("keep_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  val keepBestSql: String =
    s"""WITH RECURSIVE ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS ea, pb AS eb FROM pairs UNION SELECT pb, pa FROM pairs
       |), reach AS (
       |  SELECT DISTINCT ea AS src, ea AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
       |), clusters AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
       |), q AS (
       |  SELECT doc_id, ${TextAnalysis.qualityScoreSql} AS quality_score FROM documents
       |)
       |SELECT c.doc_id, c.cluster_id, q.quality_score,
       |  first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
       |    ORDER BY q.quality_score DESC, c.doc_id) AS keep_id,
       |  c.doc_id = first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
       |    ORDER BY q.quality_score DESC, c.doc_id) AS is_kept
       |FROM clusters c JOIN q USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The FULL keep-list — [[keepBest]] plus the unclustered remainder:
    * documents with no near-dup edge form their own singleton "cluster"
    * (cluster_id = keep_id = doc_id, is_kept = true). This is the frame
    * a curation job actually filters on (`WHERE is_kept`): exactly one
    * kept doc per near-dup cluster AND every untouched doc, totalling
    * one row per corpus document. Costs [[keepBest]] plus one left-anti
    * join against the (small) clustered-id set — nothing quadratic. */
  def keepAll(s: SparkSession, d: String): DataFrame = {
    val clustered = dupClusters(s, d) // (doc_id, cluster_id)
    val q = TextAnalysis.quality(s, d).select("doc_id", "quality_score")
    val wc = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val best = clustered.join(q, "doc_id")
      .withColumn("keep_id", first("doc_id").over(wc))
      .select("doc_id", "cluster_id", "quality_score", "keep_id")
    val singles = q.join(clustered.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        col("quality_score"), col("doc_id").as("keep_id"))
    best.unionByName(singles)
      .withColumn("is_kept", col("doc_id") === col("keep_id"))
      .orderBy("doc_id")
  }

  /** [[keepBestSql]] with the singleton remainder unioned in. */
  val keepAllSql: String =
    keepBestSql.replace(
      "ORDER BY doc_id",
      """UNION ALL
        |SELECT q.doc_id, q.doc_id AS cluster_id, q.quality_score,
        |  q.doc_id AS keep_id, TRUE AS is_kept
        |FROM q LEFT JOIN clusters c ON q.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------ threshold sweep

  /** Dedup-aggressiveness curve: for each Jaccard threshold t in
    * {0.5 … 0.9}, the surviving near-dup pair count, the number of
    * documents those pairs touch, and that count as a fraction of the
    * corpus — the measurement that picks the threshold BEFORE a 100 TB
    * dedup run (too low deletes distinct docs, too high keeps template
    * families). Pairs come from the exact [[ngramJaccard]] table (zero
    * false negatives at j ≥ 0.5), computed once; each pair votes into
    * every threshold ≤ its jaccard via a 5-literal explode (map-side,
    * ≤5× fan-out), so the pair table is never re-scanned per threshold.
    * Counts are exact longs; dup_rate is one IEEE division per
    * threshold row over the broadcast corpus-count scalar. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val pairs = ngramJaccard(s, d)
    val voted = pairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(ts.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val np = voted.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = voted
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("threshold").agg(countDistinct(col("doc")).as("n_dup_docs"))
    val tot = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    ts.toDF("threshold")
      .join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        ExactRound.r(coalesce(col("n_dup_docs"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("dup_rate"))
      .orderBy("threshold")
  }

  /** SQL twin: brute-force pair table ≥ 0.5, threshold votes via an
    * unnested DOUBLE literal list, same rounded division. */
  val thresholdSweepSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}, pairs AS MATERIALIZED (
       |  SELECT pa AS da, pb AS db, $jaccardSqlExpr AS j
       |  FROM ng_pair WHERE $jaccardSqlExpr >= 0.5
       |), th AS (
       |  SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS threshold
       |), hits AS (
       |  SELECT t.threshold, p.da, p.db FROM th t JOIN pairs p ON p.j >= t.threshold
       |), np AS (
       |  SELECT threshold, count(*) AS n_pairs FROM hits GROUP BY threshold
       |), nd AS (
       |  SELECT threshold, count(DISTINCT doc) AS n_dup_docs
       |  FROM (SELECT threshold, unnest([da, db]) AS doc FROM hits) GROUP BY threshold
       |), tot AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT t.threshold,
       |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(nd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       |  ${ExactRound.rSql("CAST(coalesce(nd.n_dup_docs, 0) AS DOUBLE) / tot.n_docs", 6)} AS dup_rate
       |FROM th t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold), tot
       |ORDER BY threshold""".stripMargin

  // ------------------------------------------------------ source overlap

  /** Cross-source duplication matrix: near-dup pair counts per
    * unordered (source, source) cell — the measurement that identifies
    * MIRROR/scraper sources (an off-diagonal hot cell means two crawl
    * sources carry the same content; the diagonal is within-source
    * boilerplate). Feeds the keep-which-source policy decision that
    * plain doc-level dedup can't inform. The exact pair table
    * ([[ngramJaccard]]) joins `documents.source` twice on doc_id —
    * two hash joins against a map-side projection, then one partial-agg
    * rollup; the pair ordering is normalized with least/greatest
    * (binary string order on both engines) so the matrix is
    * upper-triangle. pair_share is one rounded IEEE division over the
    * broadcast total-pair scalar. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val labeled = ngramJaccard(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val tot = labeled.agg(count(lit(1)).as("n_total"))
    labeled.groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        ExactRound.r(col("n_pairs").cast("double") / col("n_total"), 6).as("pair_share"))
      .orderBy("source_a", "source_b")
  }

  /** SQL twin: brute-force pair table, two source joins, same
    * least/greatest normalization and rounded share. */
  val sourceOverlapSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}, pairs AS MATERIALIZED (
       |  SELECT pa AS da, pb AS db FROM ng_pair WHERE $jaccardSqlExpr >= 0.5
       |), lab AS (
       |  SELECT least(x.source, y.source) AS source_a,
       |         greatest(x.source, y.source) AS source_b
       |  FROM pairs p JOIN documents x ON p.da = x.doc_id
       |               JOIN documents y ON p.db = y.doc_id
       |), tot AS (SELECT count(*) AS n_total FROM lab)
       |SELECT source_a, source_b, count(*) AS n_pairs,
       |  ${ExactRound.rSql("CAST(count(*) AS DOUBLE) / t.n_total", 6)} AS pair_share
       |FROM lab, tot t
       |GROUP BY source_a, source_b, t.n_total
       |ORDER BY source_a, source_b""".stripMargin

  /** Shard-local vs global dedup audit — the 100 TB DESIGN question
    * this table answers: if each of 16 shards dedups independently,
    * what fraction of duplicate pairs does it even SEE? One row per
    * duplicate relation:
    *   - `exact`: pairs inside normalized-fingerprint groups, counted
    *     per (group, shard) as Σ k(k−1)/2 — never a pair join, so a
    *     10k-copy hot document costs one count row. Under id-hash
    *     sharding (p_manifest's djb2(doc_id) layout) copies scatter
    *     (caught ≈ 1/16); under CONTENT-hash sharding every copy
    *     co-locates by construction (caught = 1, COMPUTED not
    *     asserted).
    *   - `near`: the verified n-gram-Jaccard pair list. Content-hash
    *     sharding does NOT co-locate near-dups (different texts,
    *     different fingerprints — caught ≈ 1/16 again): the measured
    *     gap that forces band-key routing (d_minhash_lsh's join key)
    *     for shard-local NEAR-dedup at 100 TB.
    * Fractions are NULL when a relation has no pairs at this SF (the
    * generator plants exact dups only at sf ≥ 0.1). */
  def crossShard(s: SparkSession, d: String): DataFrame = {
    val fp = Tokens.fingerprint(col("text"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), fp.as("fp"))
      .select(col("doc_id"), col("fp"),
        graft.functions.Djb2.djb2_partition(col("doc_id").cast("string"), 16).as("shard_id"),
        graft.functions.Djb2.djb2_partition(col("fp"), 16).as("shard_content"))
      .localCheckpoint() // keep: reuse
    val groups = docs.groupBy("fp").agg(count(lit(1)).as("k")).filter(col("k") > 1)
    val dup = docs.join(groups.select("fp"), "fp")
    def pairsBy(shardCol: String, out: String) = dup.groupBy(col("fp"), col(shardCol))
      .agg(count(lit(1)).as("ks"))
      .agg(coalesce(sum(expr("(ks * (ks - 1)) div 2")), lit(0L)).as(out))
    val exactRow = groups
      .agg(coalesce(sum(expr("(k * (k - 1)) div 2")), lit(0L)).as("n_pairs"))
      .crossJoin(broadcast(pairsBy("shard_id", "same_id")))
      .crossJoin(broadcast(pairsBy("shard_content", "same_content")))
      .select(lit("exact").as("relation"), col("n_pairs"), col("same_id"), col("same_content"))
    val near = ngramJaccard(s, d).select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"),
        col("shard_id").as("sa_id"), col("shard_content").as("sa_c")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("shard_id").as("sb_id"), col("shard_content").as("sb_c")), "doc_b")
    val nearRow = near.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum((col("sa_id") === col("sb_id")).cast("long")), lit(0L)).as("same_id"),
        coalesce(sum((col("sa_c") === col("sb_c")).cast("long")), lit(0L)).as("same_content"))
      .select(lit("near").as("relation"), col("n_pairs"), col("same_id"), col("same_content"))
    exactRow.union(nearRow)
      .select(col("relation"), col("n_pairs"), col("same_id"), col("same_content"),
        when(col("n_pairs") > 0,
          ExactRound.r(col("same_id").cast("double") / col("n_pairs"), 6))
          .as("frac_caught_id"),
        when(col("n_pairs") > 0,
          ExactRound.r(col("same_content").cast("double") / col("n_pairs"), 6))
          .as("frac_caught_content"))
      .orderBy("relation")
  }

  /** SQL twin: djb2 ([[OracleCtes.djb2Sql]]) over both the id key and
    * the 32-hex fingerprint key;
    * near pairs via the exact shingle-Jaccard brute force. */
  val crossShardSql: String = {
    val jac = OracleCtes.ngramJaccardExpr
    s"""WITH ds AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS key,
      |    ${OracleCtes.fingerprintSql("text")} AS fp
      |  FROM documents
      |), docs AS (
      |  SELECT doc_id, fp,
      |    CAST(${OracleCtes.djb2Sql("key")} % 16 AS INT) AS shard_id,
      |    CAST(${OracleCtes.djb2Sql("fp")} % 16 AS INT) AS shard_content
      |  FROM ds
      |), groups AS (
      |  SELECT fp, count(*) AS k FROM docs GROUP BY fp HAVING count(*) > 1
      |), dup AS (SELECT d.* FROM docs d JOIN groups USING (fp)
      |), exact_row AS (
      |  SELECT 'exact' AS relation,
      |    (SELECT CAST(coalesce(sum((k * (k - 1)) // 2), 0) AS BIGINT) FROM groups) AS n_pairs,
      |    (SELECT CAST(coalesce(sum((ks * (ks - 1)) // 2), 0) AS BIGINT) FROM (
      |       SELECT count(*) AS ks FROM dup GROUP BY fp, shard_id)) AS same_id,
      |    (SELECT CAST(coalesce(sum((ks * (ks - 1)) // 2), 0) AS BIGINT) FROM (
      |       SELECT count(*) AS ks FROM dup GROUP BY fp, shard_content)) AS same_content
      |), ${OracleCtes.ngramOverlap}, np AS (
      |  SELECT pa AS doc_a, pb AS doc_b FROM ng_pair WHERE $jac >= 0.5
      |), near_row AS (
      |  SELECT 'near' AS relation, count(*) AS n_pairs,
      |    CAST(coalesce(sum(CASE WHEN da.shard_id = db.shard_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS same_id,
      |    CAST(coalesce(sum(CASE WHEN da.shard_content = db.shard_content THEN 1 ELSE 0 END), 0) AS BIGINT) AS same_content
      |  FROM np JOIN docs da ON np.doc_a = da.doc_id JOIN docs db ON np.doc_b = db.doc_id
      |), u AS (SELECT * FROM exact_row UNION ALL SELECT * FROM near_row)
      |SELECT relation, n_pairs, same_id, same_content,
      |  CASE WHEN n_pairs > 0 THEN
      |    ${ExactRound.rSql("CAST(same_id AS DOUBLE) / n_pairs", 6)} END AS frac_caught_id,
      |  CASE WHEN n_pairs > 0 THEN
      |    ${ExactRound.rSql("CAST(same_content AS DOUBLE) / n_pairs", 6)} END AS frac_caught_content
      |FROM u ORDER BY relation""".stripMargin
  }

  /** BUCKETED-LAYOUT exact dedup — the storage-layout completion of
    * [[exact]], and the composition q56 makes possible: a dedup that
    * re-runs daily over a 100 TB corpus pays its `groupBy(fingerprint)`
    * shuffle every run UNLESS the corpus is stored `bucketBy(N, fp)` —
    * then the grouping key already matches the layout's distribution
    * and the aggregate runs with ZERO exchange (the write-once-shuffle
    * argument, applied to the dedup family's hottest recurring job).
    * Documents are written bucketed by content fingerprint, the group
    * count runs over the bucketed table, and the executed plan is
    * probed for exchanges — any Shuffle under the unordered aggregate
    * throws; `zero_shuffle_dedup` is the oracle-pinned TRUE. Output:
    * the corpus dedup profile (groups, docs, dup docs, savings). */
  def bucketedDedup(s: SparkSession, d: String): DataFrame = {
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val tbl = s"graft_dbd_docs_$id"
    graft.Scratch.withDir("graft_dbd_") { out =>
      try {
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            md5(to_binary(col("text"), lit("utf-8"))).as("fp"))
          .repartition(8, col("fp"))
          .write.mode("overwrite").option("path", s"$out/docs")
          .bucketBy(8, "fp").sortBy("fp")
          .saveAsTable(tbl)
        val agg = s.table(tbl).groupBy("fp")
          .agg(count(lit(1)).as("k"), sum(col("n_chars")).as("chars"))
        val materialized = agg.localCheckpoint() // keep: certificate
        val shuffles = org.apache.spark.sql.graftbridge.PlanProbe.nodes(agg)
          .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
        if (shuffles != 0)
          throw new IllegalStateException(
            s"bucketed dedup aggregate shuffled ($shuffles exchanges) — layout unused")
        materialized.agg(
          count(lit(1)).as("n_groups"),
          sum(col("k")).as("n_docs"),
          sum(when(col("k") > 1, col("k")).otherwise(0L)).as("n_dup_docs"),
          sum(when(col("k") > 1, col("k") - 1).otherwise(0L)).as("n_removable"))
          .withColumn("zero_shuffle_dedup", lit(true))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
      }
    }
  }

  val bucketedDedupSql: String =
    """WITH g AS (
      |  SELECT md5(text) AS fp, count(*) AS k FROM documents GROUP BY 1
      |)
      |SELECT count(*) AS n_groups,
      |  CAST(sum(k) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(sum(CASE WHEN k > 1 THEN k - 1 ELSE 0 END) AS BIGINT) AS n_removable,
      |  TRUE AS zero_shuffle_dedup
      |FROM g""".stripMargin

  /** EDIT-DISTANCE verification of the banded candidates — the
    * character-level near-dup metric the shingle family can't see:
    * Jaccard over 3-gram SETS is blind to repetition and ordering
    * nuance, while Levenshtein prices every insertion/deletion/
    * substitution, so scoring the SAME verified pair table
    * ([[ngramJaccard]], j ≥ 0.5) with exact edit distance is the
    * second-opinion pass a fuzzy-dedup pipeline runs before deleting
    * (`is_near` = dist ≤ 20 % of the longer doc). Never all-pairs: the
    * O(len²)-per-pair DP runs ONLY on banded-and-verified candidates —
    * thousands of pairs at corpus scale, each a map-side expression
    * (Spark's codegen'd `levenshtein`). Cross-engine parity trap,
    * handled: DuckDB's levenshtein is BYTE-based where Spark's is
    * code-point-based, so both engines score an ASCII projection
    * (lowercased, non-printable-ASCII stripped) where bytes ≡ chars —
    * also the right normalization (case/diacritic noise shouldn't
    * count as edits a dedup decision cares about). */
  def editDistance(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccard(s, d).select("doc_a", "doc_b")
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7E]", "")).as("norm"))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("norm").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("norm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("na"), col("nb")).cast("long").as("edit_dist"),
        length(col("na")).cast("long").as("len_a"),
        length(col("nb")).cast("long").as("len_b"))
      .withColumn("rel_dist", ExactRound.r(col("edit_dist").cast("double") /
        greatest(greatest(col("len_a"), col("len_b")), lit(1L)).cast("double"), 6))
      .withColumn("is_near", col("rel_dist") <= 0.2)
      .orderBy("doc_a", "doc_b")
  }

  /** SQL twin: same pair table, same ASCII projection, DuckDB's
    * byte-DP equals Spark's code-point DP on pure-ASCII input. */
  val editDistanceSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, nrm AS MATERIALIZED (
       |  SELECT doc_id, lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS norm
       |  FROM documents
       |), scored AS (
       |  SELECT p.pa AS doc_a, p.pb AS doc_b,
       |    CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS edit_dist,
       |    CAST(length(a.norm) AS BIGINT) AS len_a,
       |    CAST(length(b.norm) AS BIGINT) AS len_b
       |  FROM pairs p JOIN nrm a ON a.doc_id = p.pa JOIN nrm b ON b.doc_id = p.pb
       |)
       |SELECT doc_a, doc_b, edit_dist, len_a, len_b,
       |  ${ExactRound.rSql("CAST(edit_dist AS DOUBLE) / CAST(greatest(greatest(len_a, len_b), 1) AS DOUBLE)", 6)} AS rel_dist,
       |  ${ExactRound.rSql("CAST(edit_dist AS DOUBLE) / CAST(greatest(greatest(len_a, len_b), 1) AS DOUBLE)", 6)} <= 0.2 AS is_near
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_edit_distance" -> (editDistance _),
    "d_simhash_recall" -> (simhashRecall _),
    "d_overcollapse" -> (overcollapse _),
    "d_width_sweep" -> (widthSweep _),
    "d_cross_shard" -> (crossShard _),
    "d_prefix_dup" -> (prefixDup _),
    "d_source_overlap" -> (sourceOverlap _),
    "d_threshold_sweep" -> (thresholdSweep _),
    "d_containment_join" -> (containmentJoin _),
    "d_setsim_budget" -> (setsimBudget _),
    "d_keep_best" -> (keepBest _),
    "d_keep_all" -> (keepAll _),
    "d_lsh_tune" -> (lshTune _),
    "d_hot_buckets" -> (hotBuckets _),
    "d_cap_fires" -> (capFires _),
    "d_cluster_stats" -> (clusterStats _),
    "d_bloom" -> (bloom _),
    "d_bloom_ngram" -> (bloomNgram _),
    "d_incremental_minhash" -> (incrementalMinhash _),
    "d_embed_clusters" -> (embedClusters _),
    "d_cluster_purity" -> (clusterPurity _),
    "d_exact" -> (exact _),
    "d_url_dedup" -> (urlDedup _),
    "d_bucketed_dedup" -> (bucketedDedup _),
    "d_minhash_lsh" -> (minhashLsh _),
    "d_simhash" -> (simhash _),
    "d_ngram_jaccard" -> (ngramJaccard _),
    "d_modal_agreement" -> (modalAgreement _),
    "d_contamination" -> (contamination _),
    "d_setsim_join" -> (setsimJoin _),
    "d_dup_clusters" -> (dupClusters _),
    "d_substring" -> (substringDup _),
    "d_embed_dup" -> (embedDup _))

  val oracles: Map[String, String] = Map(
    "d_edit_distance" -> editDistanceSql,
    "d_simhash_recall" -> simhashRecallSql,
    "d_overcollapse" -> overcollapseSql,
    "d_width_sweep" -> widthSweepSql,
    "d_cross_shard" -> crossShardSql,
    "d_prefix_dup" -> prefixDupSql,
    "d_source_overlap" -> sourceOverlapSql,
    "d_threshold_sweep" -> thresholdSweepSql,
    "d_containment_join" -> containmentJoinSql,
    "d_setsim_budget" -> setsimBudgetSql,
    "d_keep_best" -> keepBestSql,
    "d_keep_all" -> keepAllSql,
    "d_lsh_tune" -> lshTuneSql,
    "d_hot_buckets" -> hotBucketsSql,
    "d_cap_fires" -> capFiresSql,
    "d_cluster_stats" -> clusterStatsSql,
    "d_bloom" -> bloomSql,
    "d_bloom_ngram" -> bloomNgramSql,
    "d_incremental_minhash" -> incrementalMinhashSql,
    "d_embed_clusters" -> embedClustersSql,
    "d_cluster_purity" -> clusterPuritySql,
    "d_exact" -> exactSql,
    "d_url_dedup" -> urlDedupSql,
    "d_bucketed_dedup" -> bucketedDedupSql,
    "d_minhash_lsh" -> minhashLshSql,
    "d_simhash" -> simhashSql,
    "d_ngram_jaccard" -> ngramJaccardSql,
    "d_modal_agreement" -> modalAgreementSql,
    "d_contamination" -> contaminationSql,
    "d_setsim_join" -> ngramJaccardSql, // same contract: equals brute force
    "d_dup_clusters" -> dupClustersSql,
    "d_substring" -> substringDupSql,
    "d_embed_dup" -> embedDupSql)
}
