package graft.operators

/** Shared DuckDB-oracle CTE fragments.
  *
  * The round-4 driver CORRECTNESS artifact came back empty, and
  * profiling the oracle sweep (tools/oracle_times.py) showed why that
  * was plausible: 183 CPU-minutes at sf0.01, ~94% of it in twins that
  * (a) built the near-dup pair table as an O(n²) nested-loop
  * `list_intersect` Jaccard over full shingle lists, and (b)
  * referenced that CTE from iterative rounds — DuckDB inlines CTEs
  * (re-evaluating them per reference) unless MATERIALIZED, so e.g.
  * g_kcore's four peeling rounds re-ran the quadratic pair build
  * combinatorially many times (measured: 5963 CPU-s / 226 s wall for
  * that one oracle).
  *
  * [[ngramOverlap]] computes the SAME pair table as an explode + hash
  * join on individual shingles: only pairs sharing ≥ 1 shingle are
  * touched, the intersection size arrives from a count aggregate, and
  * every member is MATERIALIZED (evaluated exactly once). Bit parity:
  * jaccard = isz/(na+nb−isz) over exact integer counts is the same
  * two-operand IEEE division as len(list_intersect)/len(list_distinct
  * (list_concat)), hence identical doubles and identical rounding —
  * verified hex-exact on sf0.01 (the d_ngram_jaccard twin: 8.1 s →
  * 0.04 s, identical 25 rows).
  *
  * Emitted CTEs (prefix `ng_` to stay clear of consumer names):
  *   - `ng_grams(doc_id, g)`: distinct 3-token shingles per document
  *     (same tokenization and concat as the Spark side: whitespace
  *     split of trim(text), toks[i] ' ' toks[i+1] ' ' toks[i+2],
  *     docs with < 3 tokens absent);
  *   - `ng_sz(doc_id, n)`: distinct-shingle count per document;
  *   - `ng_pair(pa, pb, isz, na, nb)`: pa < pb, isz ≥ 1 shared
  *     shingles, plus both docs' shingle counts.
  * A pair with ZERO shared shingles has jaccard/containment exactly 0
  * and is deliberately absent — every consumer thresholds above 0.
  * The fragment is legal inside a `WITH RECURSIVE` list (only the
  * genuinely recursive member must stay un-MATERIALIZED).
  *
  * The oracles' tokenizer lives here, once — the SQL twins of
  * [[graft.functions.Tokens]] over the same delimiter class:
  *   - [[wordsSql]] / [[lowerWordsSql]]: split of the space-trimmed
  *     (lower-cased) text on delimiter runs;
  *   - [[distwcSql]]: the untrimmed split, empty tokens dropped;
  *   - [[normalizedSql]] / [[fingerprintSql]]: delimiter runs to one
  *     space, lower-cased and trimmed, and its md5;
  *   - [[shinglesSql]]: the n-token shingle at list index `i`.
  *
  * The oracles' 64-bit hash arithmetic lives here too, once:
  *   - [[djb2Sql]]: djb2 of a VARCHAR as one scalar expression (HUGEINT
  *     in [0, 2⁶⁴)), the twin of [[graft.functions.Djb2.hash]];
  *   - [[signedSql]]: such a value as the signed BIGINT with the same
  *     64 bits (Spark's long);
  *   - [[m64]]: 2⁶⁴, the modulus of every wrap an oracle replays;
  *   - [[rollCte]]: the K-char polynomial rolling hash of
  *     [[graft.functions.WinnowImpl]], the one recursive member the
  *     winnow and CDC oracles share;
  *   - [[minhashSigCtes]] / [[lshBucketCte]] / [[lshCandCtes]]: the
  *     MinHash signature, its band buckets and the capped band
  *     candidates of [[Dedup.bandCandidateReps]].
  */
private[graft] object OracleCtes {

  /** The distwc delimiter run as a DuckDB regex literal (RE2 reads the
    * escapes) — the twin of [[graft.functions.Tokens.WS]]. */
  private val ws = "'[ \\t\\n\\r]+'"

  /** [[graft.functions.Tokens.words]] of the VARCHAR expression `text`. */
  def wordsSql(text: String): String = s"string_split_regex(trim($text), $ws)"

  /** [[graft.functions.Tokens.lowerWords]] of `text`. */
  def lowerWordsSql(text: String): String = s"string_split_regex(trim(lower($text)), $ws)"

  /** [[graft.functions.Tokens.distwc]] of `text` as a list: the
    * untrimmed split with empty tokens dropped. */
  def distwcSql(text: String): String =
    s"list_filter(string_split_regex($text, $ws), dw_t -> dw_t <> '')"

  /** [[graft.functions.Tokens.normalized]] of `text`. */
  def normalizedSql(text: String): String = s"trim(regexp_replace(lower($text), $ws, ' ', 'g'))"

  /** [[graft.functions.Tokens.fingerprint]] of `text` (DuckDB's md5
    * hashes the VARCHAR's UTF-8 bytes). */
  def fingerprintSql(text: String): String = s"md5(${normalizedSql(text)})"

  /** The `n`-token shingle that starts at index `i` of the token list
    * `toks`: `toks[i] || ' ' || toks[i+1] || …` — the element
    * [[graft.functions.MinHashFns.word_shingles]] emits. Splice into a
    * lambda over `i`. */
  def shinglesSql(toks: String, n: Int): String =
    (0 until n).map(k => if (k == 0) s"$toks[i]" else s"$toks[i+$k]").mkString(" || ' ' || ")

  /** 2⁶⁴ as a DuckDB HUGEINT. */
  val m64: String = "CAST('18446744073709551616' AS HUGEINT)"

  /** djb2 of the VARCHAR expression `key` (`h = 5381; h = h*33 + c`
    * over its UTF-8 bytes with signed-char promotion, mod 2⁶⁴) as one
    * scalar HUGEINT expression in [0, 2⁶⁴) — the value
    * [[graft.functions.Djb2.hash]] computes, read unsigned. Each byte
    * comes out of the key's hex rendering; `key` is spliced twice, so
    * pass a column or a cheap expression. Splice into any SELECT, no
    * `WITH RECURSIVE` needed. */
  def djb2Sql(key: String): String =
    s"""list_reduce(list_prepend(CAST(5381 AS HUGEINT),
       |  list_transform(range(0, octet_length(encode($key))),
       |    dj_i -> CAST(('0x' || substr(hex(encode($key)), 2 * dj_i + 1, 2))::INTEGER AS HUGEINT))),
       |  (dj_h, dj_c) -> (dj_h * 33 + CASE WHEN dj_c >= 128 THEN dj_c - 256 ELSE dj_c END + $m64) % $m64)""".stripMargin

  /** The HUGEINT `u` in [0, 2⁶⁴) as the two's-complement BIGINT with
    * the same 64 bits — how Spark holds (and orders) the value. */
  def signedSql(u: String): String =
    s"CAST(CASE WHEN $u >= CAST('9223372036854775808' AS HUGEINT) THEN $u - $m64 ELSE $u END AS BIGINT)"

  /** CTE `roll(doc_id, text, m, i, h)`: the K-char polynomial rolling
    * hash of [[graft.functions.WinnowImpl]] (base B, HUGEINT mod 2⁶⁴,
    * one recursion step per character position, h unsigned) over the
    * `docs(doc_id, text, m)` rows that satisfy `where`, where m =
    * length(text) − K + 1 is the doc's gram count and i = 1..m the
    * gram's start. Splice into a `WITH RECURSIVE` list. A per-position
    * closed form returns the same rows but re-reads K characters per
    * gram (measured 4–10× slower at sf0.01), so the recursion stays. */
  def rollCte(where: String): String = {
    import graft.functions.WinnowImpl.{B, K, bpow}
    val bpk1 = java.lang.Long.toUnsignedString(bpow(K - 1))
    // init hash: sum_j ord(text[j]) * B^(K-j), j = 1..K (1-based SQL)
    val bpLits = bpow.map(b => java.lang.Long.toUnsignedString(b)).mkString("[", ", ", "]")
    s"""roll AS (
       |  SELECT doc_id, text, m, 1 AS i,
       |    CAST(list_sum(list_transform(generate_series(1, $K),
       |      j -> ord(substr(text, j, 1)) * ($bpLits::HUGEINT[])[$K + 1 - j])) AS HUGEINT) % $m64 AS h
       |  FROM docs WHERE $where
       |  UNION ALL
       |  SELECT doc_id, text, m, i + 1,
       |    ((((h - ord(substr(text, i, 1)) * CAST('$bpk1' AS HUGEINT)) % $m64 + $m64) % $m64)
       |      * $B + ord(substr(text, i + $K, 1))) % $m64
       |  FROM roll WHERE i < m
       |)""".stripMargin
  }

  /** The `ng_grams(doc_id, g)` CTE alone (see object doc). */
  val ngramGrams: String =
    s"""ng_grams AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id, ${shinglesSql("toks", 3)} AS g FROM (
       |      SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks)-2, 0))) AS i
       |      FROM (SELECT doc_id, ${wordsSql("text")} AS toks FROM documents)
       |      WHERE len(toks) >= 3
       |    )
       |  )
       |)""".stripMargin

  /** See object doc. Splice as `WITH $ngramOverlap, ...` or
    * `WITH RECURSIVE $ngramOverlap, ...`. */
  val ngramOverlap: String =
    s"""$ngramGrams, ng_sz AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM ng_grams GROUP BY doc_id
       |), ng_pair AS MATERIALIZED (
       |  SELECT g.pa, g.pb, g.isz, sa.n AS na, sb.n AS nb
       |  FROM (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS isz
       |        FROM ng_grams a JOIN ng_grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) g
       |  JOIN ng_sz sa ON sa.doc_id = g.pa JOIN ng_sz sb ON sb.doc_id = g.pb
       |)""".stripMargin

  /** Exact rounded Jaccard over `ng_pair` columns — bit-identical to
    * the list_intersect/list_concat form (see object doc). */
  val ngramJaccardExpr: String =
    ExactRound.rSql("CAST(isz AS DOUBLE) / (na + nb - isz)", 6)

  /** The j ≥ 0.5 near-dup pair list as CTE `pairs(pa, pb)` — the form
    * every graph / clustering twin consumes. */
  val ngramPairs05: String =
    s"""pairs AS MATERIALIZED (
       |  SELECT pa, pb FROM ng_pair WHERE $ngramJaccardExpr >= 0.5
       |)""".stripMargin

  /** CTEs replaying [[graft.functions.MinHashImpl.signature]] over the
    * `(doc_id, elem)` rows of table `input` (elem VARCHAR; repeated rows
    * change nothing): the 31-bit djb2 of each distinct element, the
    * affine permutations as literal coefficient arrays, the per-(doc,
    * permutation) minimum — ending in `sigs(doc_id, sig)`. The one SQL
    * definition of the arithmetic the engine's signatures must match
    * bit for bit. Inner members carry the prefix `mh_`. */
  def minhashSigCtes(input: String): String = {
    import graft.functions.MinHashImpl.{NumPerms, Prime, permA, permB}
    s"""mh_el AS MATERIALIZED (SELECT DISTINCT elem FROM $input
       |), mh_h31 AS MATERIALIZED (
       |  SELECT elem, CAST(${djb2Sql("elem")} % 2147483648 AS BIGINT) AS h31 FROM mh_el
       |), mh_perm AS MATERIALIZED (
       |  SELECT i-1 AS p, pal[i] AS a, pbl[i] AS b
       |  FROM (SELECT unnest(generate_series(1, $NumPerms)) AS i),
       |       (SELECT ${permA.mkString("[", ", ", "]")}::BIGINT[] AS pal,
       |               ${permB.mkString("[", ", ", "]")}::BIGINT[] AS pbl)
       |), mh_sv AS MATERIALIZED (
       |  SELECT d.doc_id, pm.p, min((pm.a * s.h31 + pm.b) % $Prime) AS sv
       |  FROM $input d JOIN mh_h31 s USING (elem), mh_perm pm
       |  GROUP BY d.doc_id, pm.p
       |), sigs AS MATERIALIZED (
       |  SELECT doc_id, list(sv ORDER BY p) AS sig FROM mh_sv GROUP BY doc_id
       |)""".stripMargin
  }

  /** CTE `bsz<r>(bd, slice, b)`: the LSH bucket census over the
    * DISTINCT signatures of `sigs(doc_id, sig)` at `r` rows per band —
    * b signatures share band bd's r-slice (a bucket is the slice
    * itself; the engine's 64-bit band hash merges two only at the 2⁻⁶⁴
    * collision class). */
  def lshBucketCte(r: Int): String =
    s"""bsz$r AS MATERIALIZED (
       |  SELECT bd, slice, count(*) AS b FROM (
       |    SELECT bd, sig[$r*bd+1 : $r*bd+$r] AS slice FROM (
       |      SELECT sig, unnest(generate_series(0, ${graft.functions.MinHashImpl.NumPerms / r - 1})) AS bd
       |      FROM (SELECT DISTINCT sig FROM sigs)))
       |  GROUP BY bd, slice
       |)""".stripMargin

  /** [[Dedup.bandCandidateReps]]'s capped band candidates over
    * `sigs(doc_id, sig)` at `r` rows per band, as CTEs suffixed with
    * `r`: [[lshBucketCte]]; `cold<r>(doc_id, bd, slice)`, the
    * memberships of buckets within [[graft.GraftConf.maxBandBucket]];
    * and `cand<r>(doc_a, doc_b)`, doc_a < doc_b, the cold-bucket
    * collisions plus every identical-signature pair (kept whatever its
    * buckets' size). */
  def lshCandCtes(r: Int): String =
    s"""${lshBucketCte(r)}, cold$r AS MATERIALIZED (
       |  SELECT n.doc_id, n.bd, n.slice FROM (
       |    SELECT doc_id, bd, sig[$r*bd+1 : $r*bd+$r] AS slice FROM (
       |      SELECT doc_id, sig, unnest(generate_series(0, ${graft.functions.MinHashImpl.NumPerms / r - 1})) AS bd FROM sigs)
       |  ) n JOIN bsz$r z ON z.bd = n.bd AND z.slice = n.slice
       |  WHERE z.b <= ${graft.GraftConf.maxBandBucket}
       |), cand$r AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cold$r a JOIN cold$r b ON a.bd = b.bd AND a.slice = b.slice AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** CTEs replaying [[Similarity.effectiveThreshold]]'s noise-floor
    * threshold auto-lift bit-exactly (same stride sample, same
    * integer/rounded arithmetic, same ladder and budget literals from
    * [[graft.GraftConf]]) — ends with `nf_efft(t)`, the effective
    * cosine threshold a similarity-graph twin must build its edge set
    * at: `WHERE cosine >= (SELECT t FROM nf_efft)`. Prefix `nf_` to
    * stay clear of consumer names.
    *
    * Also defines (r10) the exact-vs-banded machinery the selection
    * now depends on: `ep_gate(banded)` — true past the
    * [[graft.GraftConf.maxBrutePairs]] exact envelope, `ep_r(r)` —
    * [[EmbedBands.bandPlaneCount]], and `ep_lt(t, r, l)` — the
    * [[EmbedBands.lTable]] literal. On the banded side a rung must
    * also be BANDABLE (a row in ep_lt at this r); the fallback is the
    * ladder top when exact, the top bandable rung when banded. */
  def effTCtes(requested: Double): String = {
    val cos = ExactRound.rSql("list_inner_product(a.v, b.v) / (a.nrm * b.nrm)", 6)
    val strides = Seq(1, 7, 61, 127).map { k =>
      s"SELECT $cos AS cos FROM nf_e a JOIN nf_e b ON b.vec_id = a.vec_id + $k"
    }.mkString(" UNION ALL ")
    val ladder = graft.GraftConf.cosineLadder.mkString(", ")
    val top = graft.GraftConf.cosineLadder.max
    s"""nf_e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings
       |), nf_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nf_e
       |), ep_gate AS (
       |  SELECT n * (n - 1) // 2 > ${graft.GraftConf.maxBrutePairs} AS banded FROM nf_n
       |), ep_lt AS (SELECT t, r, l FROM ${EmbedBands.lTableSql}
       |), ep_r AS (
       |  SELECT coalesce(min(CASE WHEN (CAST(1 AS BIGINT) << r) * ${graft.GraftConf.bandBucketRows} >= n
       |                   THEN r END), ${EmbedBands.MaxPlanes}) AS r
       |  FROM (SELECT unnest([${(EmbedBands.MinPlanes to EmbedBands.MaxPlanes).mkString(", ")}]) AS r), nf_n
       |), nf_pairs AS MATERIALIZED ($strides
       |), nf_th AS (SELECT unnest([$ladder]) AS threshold
       |), nf_agg AS (
       |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN cos >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
       |  FROM nf_pairs, nf_th GROUP BY threshold
       |), nf_wedges AS (
       |  SELECT threshold,
       |    CAST(round(n * est_degree * est_degree / 2) AS BIGINT) AS est_wedges
       |  FROM (
       |    SELECT threshold,
       |      ${ExactRound.rSql("(n - 1) * n_ge / n_pairs", 6)} AS est_degree, n
       |    FROM nf_agg, nf_n)
       |), nf_efft AS (
       |  SELECT coalesce(
       |    min(CASE WHEN w.threshold >= $requested
       |             AND w.est_wedges <= ${graft.GraftConf.wedgeTarget}
       |             AND ((NOT (SELECT banded FROM ep_gate)) OR lt.l IS NOT NULL)
       |        THEN w.threshold END),
       |    CASE WHEN NOT (SELECT banded FROM ep_gate) THEN $top
       |         ELSE (SELECT max(t) FROM ep_lt WHERE r = (SELECT r FROM ep_r)) END) AS t
       |  FROM nf_wedges w
       |  LEFT JOIN ep_lt lt ON lt.t = w.threshold AND lt.r = (SELECT r FROM ep_r)
       |)""".stripMargin
  }

  /** The embedding near-dup pair list as CTE `pairs(pa, pb, cosine)`
    * — the ONE cross-engine construction every embedding-graph twin
    * consumes, replaying [[Dedup.embedPairBlocks]]'s r10 gate
    * verbatim: below the [[graft.GraftConf.maxBrutePairs]] envelope
    * the pairs are the EXACT brute-force set at the
    * [[Similarity.effectiveThreshold]]-lifted threshold (the cell /
    * block-brute Spark paths are exact, so brute SQL is their twin);
    * past it they are the SimHash-banded, exactly-verified set
    * ([[EmbedBands.bandedPairsSql]]) with per-pair recall ≥
    * [[graft.GraftConf.bandRecallTarget]]. Splices [[effTCtes]];
    * both branches are gated on `ep_gate` so only the live one
    * computes. */
  def embedPairsCtes(requested: Double): String = {
    val cos = ExactRound.rSql("list_inner_product(a.v, b.v) / (a.nrm * b.nrm)", 6)
    s"""${effTCtes(requested)}, ep_exact AS MATERIALIZED (
       |  SELECT pa, pb, cosine FROM (
       |    SELECT a.vec_id AS pa, b.vec_id AS pb, $cos AS cosine
       |    FROM nf_e a JOIN nf_e b ON a.vec_id < b.vec_id
       |    WHERE NOT (SELECT banded FROM ep_gate)
       |  ) WHERE cosine >= (SELECT t FROM nf_efft)
       |), ${EmbedBands.bandedPairsSql}, pairs AS MATERIALIZED (
       |  SELECT pa, pb, cosine FROM ep_exact
       |  UNION ALL
       |  SELECT pa, pb, cosine FROM ep_band
       |)""".stripMargin
  }
}
