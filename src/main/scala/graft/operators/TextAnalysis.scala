package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Djb2, Tokens}

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md §2C):
  * token counting, language ID, quality scoring, document fingerprinting.
  *
  * Everything is composed from built-in `functions._` so the whole pipeline
  * stays in whole-stage codegen — at 100 TB these are pure map-side scans
  * (no shuffle except final presentation sorts, which production callers
  * would drop).
  */
object TextAnalysis {

  /** Exact whole-token occurrence count: tokenize and filter. (The padded
    * substring length-trick undercounts adjacent repeats — "the the the"
    * counts 2, not 3, because consecutive matches share their separator.)
    * Catalyst's subexpression elimination shares the split across the
    * per-word counts in one projection. */
  private def tokenCount(text: Column, word: String): Column =
    size(filter(Tokens.lowerWords(text), t => t === word)).cast("long")

  private[operators] def tokenCountSql(word: String): String =
    s"CAST(len(list_filter(${OracleCtes.lowerWordsSql("text")}, t -> t = '$word')) AS BIGINT)"

  // ---------------------------------------------------------------- tokens

  /** Token counting: whitespace tokens plus a BPE-ish segmentation
    * (letter runs / digit runs / single other symbols) per document. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(Tokens.words(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    s"""SELECT doc_id,
      | CAST(len(${OracleCtes.wordsSql("text")}) AS BIGINT) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) AS BIGINT) AS n_bpe_tokens,
      | CAST(length(text) AS BIGINT) AS len_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- langid

  /** Function-word markers per language. On real corpora these separate
    * languages sharply; the mechanism (marker-token frequency argmax) is
    * the standard n-gram-free heuristic. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "y", "los"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("的", "了", "是"))

  /** Marker-score columns (`s_en` … `s_zh`) for a documents scan. */
  private def markerScores: Seq[Column] = markers.map { case (lang, ws) =>
    ws.map(w => tokenCount(col("text"), w)).reduce(_ + _).as(s"s_$lang")
  }

  /** Argmax over the marker scores with a fixed precedence order
    * (first-listed language wins ties) — shared by langid and its
    * confusion-matrix eval so the prediction cannot drift. */
  private def predExpr: Column = {
    // precedence CASE: en >= all → en; else de >= remaining → de; ...
    val langs = markers.map(_._1)
    langs.zipWithIndex.foldRight(lit(langs.last): Column) { case ((lang, i), rest) =>
      val later = langs.drop(i + 1)
      if (later.isEmpty) rest
      else when(later.map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _), lang).otherwise(rest)
    }
  }

  /** Language ID: per-language marker-token counts and argmax prediction
    * with a fixed precedence order (first-listed language wins ties). */
  def langid(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d).select(col("doc_id") +: markerScores: _*)
    scored.withColumn("pred_lang", predExpr)
      .select("doc_id", "s_en", "s_de", "s_es", "s_fr", "s_zh", "pred_lang")
      .orderBy("doc_id")
  }

  private def markerScoresSql: String = markers.map { case (lang, ws) =>
    ws.map(w => tokenCountSql(w)).mkString(" + ") + s" AS s_$lang"
  }.mkString(",\n ")

  private def predCaseSql: String = {
    val langs = markers.map(_._1)
    val arms = langs.init.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $later THEN '$lang'"
    }.mkString(" ")
    s"CASE $arms ELSE '${langs.last}' END"
  }

  val langidSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, $markerScoresSql
       |  FROM documents
       |)
       |SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
       | $predCaseSql AS pred_lang
       |FROM scored ORDER BY doc_id""".stripMargin

  /** Confusion matrix for the language-ID operator: labeled `lang` ×
    * predicted `pred_lang` cell counts with the per-labeled-lang share —
    * the operator-quality audit run before trusting a heuristic
    * classifier to route a 100 TB corpus (the s_recall_eval discipline
    * applied to langid). Scoring is the same shared map-side projection
    * as `t_langid`; the matrix is a ≤|langs|² cell aggregate and the
    * per-lang totals join is a broadcast of a |langs|-row table, so
    * nothing beyond the scan scales with the corpus. */
  def langidEval(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id") :: col("lang") :: markerScores.toList: _*)
    val cells = scored.withColumn("pred_lang", predExpr)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy("lang").agg(sum("n_docs").as("lang_total"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        col("lang_total").cast("long").as("lang_total"),
        ExactRound.r(col("n_docs").cast("double") / col("lang_total"), 6).as("share"),
        (col("lang") === col("pred_lang")).as("is_correct"))
      .orderBy("lang", "pred_lang")
  }

  /** SQL twin: same scoring CTE with the labeled lang retained. */
  val langidEvalSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, $markerScoresSql
       |  FROM documents
       |), pred AS (
       |  SELECT lang, $predCaseSql AS pred_lang FROM scored
       |), cells AS (
       |  SELECT lang, pred_lang, count(*) AS n_docs FROM pred GROUP BY 1, 2
       |), totals AS (
       |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total FROM cells GROUP BY 1
       |)
       |SELECT c.lang, c.pred_lang, c.n_docs, t.lang_total,
       |  ${ExactRound.rSql("CAST(c.n_docs AS DOUBLE) / t.lang_total", 6)} AS share,
       |  c.lang = c.pred_lang AS is_correct
       |FROM cells c JOIN totals t ON c.lang = t.lang
       |ORDER BY c.lang, c.pred_lang""".stripMargin

  // --------------------------------------------------------------- quality

  private[operators] val stopwords = Seq("the", "a", "of", "and", "to")

  /** Shared SQL fragments for the quality score (also composed by the
    * p_curate oracle — single source so the formulas cannot drift). */
  private[operators] val nTokensSql = s"CAST(len(${OracleCtes.wordsSql("text")}) AS BIGINT)"
  private[operators] val nPunctSql = "length(regexp_replace(text, '[^.!?,;:]', '', 'g'))"
  private[operators] def nStopSql: String = stopwords.map(tokenCountSql).mkString(" + ")
  private[operators] def qualityScoreSql: String =
    ExactRound.rSql(
      s"""least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.5
         |   + (1.0 - least(CAST($nPunctSql AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.25
         |   + least(CAST($nStopSql AS DOUBLE) / $nTokensSql * 5.0, 1.0) * 0.25""".stripMargin, 6)

  /** Quality scoring: length, punctuation density, stopword ratio, and a
    * linear combination — the usual cheap pre-filters before expensive
    * model-based scoring. */
  def quality(s: SparkSession, d: String): DataFrame = {
    val nTokens = size(Tokens.words(col("text"))).cast("long")
    val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
    val nStop = stopwords.map(w => tokenCount(col("text"), w)).reduce(_ + _)
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        ExactRound.r(nPunct.cast("double") / length(col("text")), 6).as("punct_ratio"),
        ExactRound.r(nStop.cast("double") / nTokens, 6).as("stopword_ratio"),
        ExactRound.r(
          least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.5
            + (lit(1.0) - least(nPunct.cast("double") / length(col("text")) * 10.0, lit(1.0))) * 0.25
            + least(nStop.cast("double") / nTokens * 5.0, lit(1.0)) * 0.25,
          6).as("quality_score"))
      .orderBy("doc_id")
  }

  val qualitySql: String =
    s"""SELECT doc_id,
       | $nTokensSql AS n_tokens,
       | ${ExactRound.rSql(s"CAST($nPunctSql AS DOUBLE) / length(text)", 6)} AS punct_ratio,
       | ${ExactRound.rSql(s"CAST($nStopSql AS DOUBLE) / $nTokensSql", 6)} AS stopword_ratio,
       | $qualityScoreSql AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- fingerprint

  /** Document fingerprinting: md5 of whitespace-normalized lowercase text
    * (content-addressed identity) + the 64-bit djb2 rolling hash (cheap
    * 8-byte fingerprint; the oracle recomputes djb2 in SQL). The SQL
    * recomputation folds codepoints (`ord`), the Scala hash folds UTF-8
    * bytes like the C reference — identical on ASCII (the verified
    * property of this corpus), divergent on multi-byte text by design:
    * byte-wise is the reference semantics. */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val normalized = Tokens.normalized(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(to_binary(normalized, lit("utf-8"))).as("md5_fp"),
        Djb2.djb2_hash(normalized).as("djb2_fp"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    s"""WITH norm AS (
      |  SELECT doc_id, ${OracleCtes.normalizedSql("text")} AS t
      |  FROM documents
      |)
      |SELECT doc_id, md5(t) AS md5_fp, ${OracleCtes.signedSql("hash")} AS djb2_fp
      |FROM (SELECT doc_id, t, ${OracleCtes.djb2Sql("t")} AS hash FROM norm)
      |ORDER BY doc_id""".stripMargin

  /** THRESHOLDED N-GRAM RELEASE — the Google-Books-style publication
    * discipline for corpus statistics: publish a trigram's counts ONLY
    * if it appears in >= 5 DISTINCT documents. A gram below that
    * support is a memorization / re-identification channel (a trigram
    * seen in one document IS a verbatim quote of that document), so
    * the release suppresses it — k-anonymity over n-gram provenance,
    * the same rule Google applied to the Books Ngram corpus (>= 40
    * books) and LM training audits apply before publishing token
    * statistics. Plan: shingle map-side, then TWO wordcount-shaped
    * partial-agg shuffles — (gram, doc_id) support dedup, then the
    * gram census — no window, no self-join; both shuffles key on the
    * gram and combine map-side, so the layout holds at 100 TB where
    * the gram table is Heaps'-law-bounded, far smaller than the
    * corpus. THROWS if nothing was suppressed or nothing released —
    * the threshold must be demonstrably load-bearing, not vacuous. */
  def ngramRelease(s: SparkSession, d: String): DataFrame = {
    val stats = graft.Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(graft.functions.MinHashFns.word_shingles(
        Tokens.words(col("text")), 3, distinct = false)).as("gram"))
      .groupBy("gram", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("gram")
      .agg(count(lit(1)).as("doc_support"), sum("c").as("total_cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val suppressed = stats.filter(col("doc_support") < 5).limit(1).count()
    require(suppressed > 0, "ngram release vacuous: no gram below the support threshold")
    val released = stats.filter(col("doc_support") >= 5)
    require(released.limit(1).count() > 0, "ngram release vacuous: nothing released")
    released.orderBy(col("doc_support").desc, col("total_cnt").desc, col("gram"))
  }

  val ngramReleaseSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${OracleCtes.wordsSql("text")} AS t FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(t)-2, 0)),
      |    i -> ${OracleCtes.shinglesSql("t", 3)})) AS gram
      |  FROM toks
      |)
      |SELECT gram,
      |  count(DISTINCT doc_id) AS doc_support,
      |  count(*) AS total_cnt
      |FROM grams GROUP BY gram HAVING doc_support >= 5
      |ORDER BY doc_support DESC, total_cnt DESC, gram""".stripMargin

  /** Corpus-level bigram frequencies: top 20 word bigrams across all
    * documents (every occurrence counted, not per-doc distinct). The
    * classic n-gram language-model counting job: shingle map-side, one
    * partial-agg shuffle of distinct bigrams. */
  def ngramFreq(s: SparkSession, d: String): DataFrame =
    graft.Tables.parallelize(Tables.documents(s, d))
      .select(explode(graft.functions.MinHashFns.word_shingles(
        Tokens.words(col("text")), 2, distinct = false)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  val ngramFreqSql: String =
    s"""SELECT bigram, count(*) AS cnt FROM (
      |  SELECT unnest(list_transform(
      |    generate_series(1, greatest(len(toks)-1, 0)),
      |    i -> ${OracleCtes.shinglesSql("toks", 2)})) AS bigram
      |  FROM (SELECT ${OracleCtes.wordsSql("text")} AS toks FROM documents)
      |)
      |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin

  /** COLLOCATION MINING — the phrase-discovery kernel behind tokenizer
    * vocabularies and query suggestion ("new york" is a unit, "the
    * cat" is not): bigrams ranked by LIFT, the log-free core of PMI
    * (PMI = log lift, and log is monotone, so the ranking is
    * identical — but lift stays in integer arithmetic the hex gate
    * can pin, where each engine's libm log would drift). lift =
    * P(ab)/(P(a)P(b)) = n_ab·N/(n_a·n_b), emitted in integer
    * millionths via one floor division; frequency floors (≥5) drop
    * the degenerate high-lift hapax pairs, as every collocation
    * extractor does. Plan: two wordcount-shaped aggregates (unigrams,
    * bigrams) + two hash joins on the word — all partial-agg
    * friendly, no window, no sort until the final top-25. Products
    * stay under 2^63 for any corpus where n_ab·N < 9.2e12 (petabyte
    * corpora included: N ≈ 1e12 tokens needs n_ab ≤ 9 × 1e0 — at
    * that scale switch the micro factor down; documented, not
    * hidden). */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val toks = graft.Tables.parallelize(Tables.documents(s, d))
      .select(Tokens.words(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(graft.functions.MinHashFns.word_shingles(
        col("t"), 2, distinct = false)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_ab"))
      .select(col("bg"), col("n_ab"),
        expr("split(bg, ' ')[0]").as("a"), expr("split(bg, ' ')[1]").as("b"))
    val total = bi.agg(sum(col("n_ab")).as("n"))
    bi.join(uni.withColumnRenamed("w", "a").withColumnRenamed("c", "n_a"), "a")
      .join(uni.withColumnRenamed("w", "b").withColumnRenamed("c", "n_b"), "b")
      .crossJoin(broadcast(total))
      .filter(col("n_ab") >= 5 && col("n_a") >= 5 && col("n_b") >= 5)
      .select(col("bg").as("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(n_ab * n * 1000000L) div (n_a * n_b)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("bigram"))
      .limit(25)
  }

  val collocationsSql: String =
    s"""WITH toks AS (
      |  SELECT ${OracleCtes.wordsSql("text")} AS t FROM documents
      |), un AS (
      |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
      |), bc AS (
      |  SELECT bg, count(*) AS n_ab FROM (
      |    SELECT unnest(list_transform(
      |      generate_series(1, greatest(len(t)-1, 0)),
      |      i -> ${OracleCtes.shinglesSql("t", 2)})) AS bg
      |    FROM toks)
      |  GROUP BY bg
      |), sp AS (
      |  SELECT bg, n_ab, string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
      |  FROM bc
      |), tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM bc)
      |SELECT sp.bg AS bigram, sp.n_ab, ua.c AS n_a, ub.c AS n_b,
      |  CAST((sp.n_ab * tot.n * 1000000) // (ua.c * ub.c) AS BIGINT) AS lift_micro
      |FROM sp
      |JOIN un ua ON sp.a = ua.w
      |JOIN un ub ON sp.b = ub.w
      |CROSS JOIN tot
      |WHERE sp.n_ab >= 5 AND ua.c >= 5 AND ub.c >= 5
      |ORDER BY lift_micro DESC, bigram LIMIT 25""".stripMargin

  /** Context chunking with overlap (RAG / embedding prep): 200-char
    * windows at stride 150. explode(sequence) generates chunk rows in
    * parallel per document — no driver loop, linear in corpus size. */
  def chunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), ((length(col("text")) - 1) / 150).cast("long"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        substring(col("text"), (col("chunk_idx") * 150 + 1).cast("int"), lit(200)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(to_binary(col("chunk"), lit("utf-8"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val chunkSql: String =
    """SELECT doc_id, chunk_idx,
      | CAST(length(substr(text, CAST(chunk_idx*150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len,
      | md5(substr(text, CAST(chunk_idx*150 + 1 AS INT), 200)) AS chunk_md5
      |FROM (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, CAST((length(text)-1)//150 AS BIGINT))) AS chunk_idx
      |  FROM documents
      |)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Blocklist content filter: whole-token hit counts for a term
    * blocklist plus a flag — the cheap rule-based safety pass that runs
    * before model-based filtering. */
  private val blocklist = Seq("slow", "error")

  def contentFilter(s: SparkSession, d: String): DataFrame = {
    val nHits = blocklist.map(w => tokenCount(col("text"), w)).reduce(_ + _)
    Tables.documents(s, d)
      .select(col("doc_id"), nHits.as("n_hits"))
      .withColumn("flagged", (col("n_hits") > 0).cast("int"))
      .orderBy("doc_id")
  }

  val contentFilterSql: String = {
    val nHits = blocklist.map(w => tokenCountSql(w)).mkString(" + ")
    s"""SELECT doc_id, $nHits AS n_hits,
       | CAST(($nHits) > 0 AS INT) AS flagged
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Keyword extraction: top-3 terms per document by TF-IDF. Uses the
    * ratio idf variant (tf · N / df, no logarithm): tf, N and df are
    * exact integers and one IEEE division is correctly rounded, so Spark
    * and DuckDB produce bit-identical scores — `ln` is only guaranteed
    * within 1 ulp across libm implementations and could flip a rounded
    * rank. Two-level aggregation (per-doc tf, corpus df) + windowed
    * top-k; at scale df is a broadcast-sized vocabulary table. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT persisted: the exploded table is corpus-sized and would pin
    // executor storage for the session; recomputing the map-side
    // tokenization per consumer is cheaper than the cache pressure
    val toks = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(Tokens.words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    val n = toks.select(count_distinct(col("doc_id")).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        ExactRound.r(col("tf") * col("n") / col("df"), 6).as("tfidf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "term", "tfidf", "rnk")
      .orderBy("doc_id", "rnk")
  }

  val tfidfSql: String =
    s"""WITH doctok AS (
      |  SELECT doc_id, unnest(${OracleCtes.wordsSql("text")}) AS term
      |  FROM documents
      |), tok AS (SELECT doc_id, term FROM doctok WHERE term <> ''
      |), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
      |), df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
      |), n AS (SELECT count(DISTINCT doc_id) AS n FROM tok
      |), ranked AS (
      |  SELECT tf.doc_id, tf.term, TFIDF AS tfidf,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY TFIDF DESC, tf.term) AS rnk
      |  FROM tf JOIN df USING (term), n
      |)
      |SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin
      .replace("TFIDF", ExactRound.rSql("tf.tf * n.n / df.df", 6))

  /** Language-model-style fluency signal: the fraction of a document's
    * bigrams (with multiplicity) that are corpus-frequent (count ≥ 3).
    * The integer-count formulation keeps the score to one exact IEEE
    * division, so it is bit-identical across engines — the log-prob
    * variant would inherit libm's ln differences. Two-level aggregation:
    * corpus bigram model (broadcast-sized vocabulary at scale), then a
    * per-doc ratio. */
  def bigramRatio(s: SparkSession, d: String): DataFrame = {
    // not persisted — corpus-sized (one row per bigram occurrence); see tfidf
    val bg = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(graft.functions.MinHashFns.word_shingles(
          Tokens.words(col("text")), 2, distinct = false)).as("bg"))
    val corpus = bg.groupBy("bg").agg(count(lit(1)).as("c"))
    bg.join(corpus, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c") >= 3, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_bigrams"),
        ExactRound.r(col("n_common") / col("n_bigrams"), 6).as("common_ratio"))
      .orderBy("doc_id")
  }

  val bigramRatioSql: String =
    s"""WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(toks)-1, 0)),
      |    i -> ${OracleCtes.shinglesSql("toks", 2)})) AS bg
      |  FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 2
      |), corpus AS (
      |  SELECT bg, count(*) AS c FROM bg GROUP BY bg
      |)
      |SELECT b.doc_id, count(*) AS n_bigrams,
      |  COMMON_RATIO AS common_ratio
      |FROM bg b JOIN corpus USING (bg)
      |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin
      .replace("COMMON_RATIO",
        ExactRound.rSql("sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) / count(*)", 6))

  /** Intra-document repetition filter (the C4/Gopher-style quality
    * rule): the fraction of a document's word 5-grams (with
    * multiplicity) that are duplicates of an earlier 5-gram, plus a flag
    * at ratio > 0.3. Pure map-side scan — integer counts and one exact
    * division, so bit-identical across engines. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val grams = graft.functions.MinHashFns.word_shingles(
      Tokens.words(col("text")), 5, distinct = false)
    Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), grams.as("g"))
      .filter(size(col("g")) > 0)
      .select(col("doc_id"), size(col("g")).cast("bigint").as("n_grams"),
        ExactRound.r(lit(1.0) - size(array_distinct(col("g"))).cast("double") / size(col("g")), 6)
          .as("rep_ratio"))
      .withColumn("flagged", (col("rep_ratio") > 0.3).cast("int"))
      .orderBy("doc_id")
  }

  val repetitionSql: String =
    s"""SELECT doc_id, n_grams, rep_ratio, CAST(rep_ratio > 0.3 AS INT) AS flagged FROM (
      |  SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
      |    REP_RATIO AS rep_ratio
      |  FROM (
      |    SELECT doc_id, list_transform(
      |      generate_series(1, greatest(len(toks)-4, 0)),
      |      i -> ${OracleCtes.shinglesSql("toks", 5)}) AS g
      |    FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks FROM documents)
      |    WHERE len(toks) >= 5
      |  )
      |)
      |ORDER BY doc_id""".stripMargin
      .replace("REP_RATIO",
        ExactRound.rSql("1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)", 6))

  /** Cross-document duplicate n-gram coverage — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" signal
    * at n-gram granularity (vs [[repetition]], which is intra-document):
    * for each document, the fraction of its DISTINCT word 5-grams that
    * also occur in at least one other document. High coverage marks
    * boilerplate/template docs that survive exact and near-dup passes.
    * Two shuffles at any scale: count documents per gram (map-side
    * partial agg does the heavy lifting — gram frequency is Zipfian),
    * then re-join the per-gram doc counts and aggregate per doc. At
    * 100 TB the join key would be xxhash64(gram) to bound shuffle key
    * width; the raw-string key here keeps the oracle engine-portable,
    * and a 64-bit collision (~n²/2⁶⁴) only perturbs a ratio, never
    * membership. */
  def dupNgrams(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(graft.functions.MinHashFns.word_shingles(
        Tokens.words(col("text")), 5, distinct = true)).as("g"))
    val docsPerGram = grams.groupBy("g").agg(count(lit(1)).as("nd"))
    grams.join(docsPerGram, "g")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        ExactRound.r(col("n_shared").cast("double") / col("n_grams"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  val dupNgramsSql: String =
    s"""WITH grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-4, 0)),
      |    i -> ${OracleCtes.shinglesSql("toks", 5)}))) AS g
      |  FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 5
      |), counts AS (
      |  SELECT g, count(*) AS nd FROM grams GROUP BY g
      |)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  DUP_RATIO AS dup_ratio
      |FROM grams JOIN counts USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      .replace("DUP_RATIO",
        ExactRound.rSql("CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6))

  /** NOVELTY scoring — each document's marginal contribution to the
    * corpus: the fraction of its distinct 5-grams whose FIRST
    * occurrence (by doc_id, the ingestion order) is this document.
    * The data-curation dual of [[dupNgrams]]: dup_ratio asks "how much
    * of me exists elsewhere", novelty asks "how much did I add when I
    * arrived" — the signal behind contribution-ordered curricula and
    * crawl-frontier pruning (re-crawls of boilerplate-heavy sites
    * score ≈ 0 and get dropped before tokenization). Same wordcount
    * scale shape: gram table partial-aggregates to min(doc_id) per
    * gram (an associative min — one shuffle), one re-join tags each
    * doc's grams first-seen-here or not. */
  def novelty(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(graft.functions.MinHashFns.word_shingles(
        Tokens.words(col("text")), 5, distinct = true)).as("g"))
    val firstSeen = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(firstSeen, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        ExactRound.r(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  val noveltySql: String =
    s"""WITH grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-4, 0)),
      |    i -> ${OracleCtes.shinglesSql("toks", 5)}))) AS g
      |  FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 5
      |), fs AS (
      |  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
      |)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  NOVELTY AS novelty
      |FROM grams JOIN fs USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      .replace("NOVELTY",
        ExactRound.rSql("CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6))

  /** C4-style duplicate-SPAN removal at corpus level — the REMOVAL
    * counterpart of [[dupNgrams]]'s statistic (C4 drops any three-
    * sentence span occurring more than once in the corpus; this corpus
    * is unpunctuated single-line text, so the span unit is a TUMBLING
    * 10-word block — non-overlapping, which is what makes "remove the
    * duplicated span" well-defined where sliding n-grams overlap).
    * Every doc is cut into consecutive 10-word blocks; a block whose
    * lowercased form appears in ≥2 distinct documents is boilerplate
    * and dropped; the output is per-doc removal accounting plus an
    * md5 of the kept text (blocks rejoined in original order via the
    * q33 sorted-collect discipline — shuffle-order-proof). Scale
    * shape: the block table is corpus_tokens/10 rows and partial-
    * aggregates map-side on the block key (wordcount shape); the
    * distinct-doc count per block key hits Zipf so the frequency
    * table is small; one re-join tags blocks, and reconstruction is
    * per-doc bounded. At 100 TB the join key would be xxhash64(blk)
    * — raw strings keep the oracle engine-portable ([[dupNgrams]]'s
    * note). */
  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val blocks = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), Tokens.words(col("text")).as("tk"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(tk)-1) div 10), i -> array_join(slice(tk, i*10+1, 10), ' '))"))
        .as(Seq("pos", "blk")))
      .withColumn("k", lower(col("blk")))
    val freq = blocks.groupBy("k").agg(countDistinct("doc_id").as("nd"))
    blocks.join(freq, "k")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("nd") >= 2, length(col("blk")).cast("long")).otherwise(0L))
          .as("chars_removed"),
        md5(to_binary(array_join(transform(array_sort(
          collect_list(when(col("nd") < 2, struct(col("pos"), col("blk"))))),
          x => x.getField("blk")), " "), lit("utf-8"))).as("kept_md5"))
      .orderBy("doc_id")
  }

  val spanDedupSql: String =
    s"""WITH blocks AS (
      |  SELECT doc_id, u.pos AS pos, u.blk AS blk, lower(u.blk) AS k
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(0, CAST((len(tk)-1)//10 AS BIGINT)),
      |      i -> struct_pack(pos := i, blk := array_to_string(tk[i*10+1 : i*10+10], ' ')))) AS u
      |    FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS tk FROM documents)
      |  )
      |), freq AS (
      |  SELECT k, count(DISTINCT doc_id) AS nd FROM blocks GROUP BY k
      |)
      |SELECT doc_id, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(sum(CASE WHEN nd >= 2 THEN length(blk) ELSE 0 END) AS BIGINT) AS chars_removed,
      |  md5(coalesce(string_agg(CASE WHEN nd < 2 THEN blk END, ' ' ORDER BY pos), '')) AS kept_md5
      |FROM blocks JOIN freq USING (k)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-concentration Gini coefficient per document — the log-free
    * twin of token entropy (entropy needs ln, whose last-ULP differs
    * across engines; Gini is Σᵢ(2i−n−1)cᵢ / (n·Σcᵢ) on rank-sorted
    * counts — ALL-INTEGER numerator and denominator, one IEEE division
    * at the end, bit-portable). High Gini = a few tokens dominate
    * (template/spam/keyword-stuffed text); low = flat vocabulary. The
    * rank weight is tie-invariant (permuting equal counts leaves the
    * sum unchanged), so the (count, token) tiebreak is for determinism
    * of the PLAN, not the value. Scale shape: wordcount partial-agg to
    * (doc, token) counts, then the rank window partitions BY DOC — the
    * sort is per-document vocabulary, never corpus-global. */
  def tokenGini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(Tokens.lowerWords(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("doc_id")
    val ranked = cnts
      .withColumn("i", row_number().over(w.orderBy(col("c"), col("tok"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
    ranked.groupBy("doc_id")
      .agg(max("n").as("n_types"),
        sum("c").as("n_tokens"),
        sum((lit(2L) * col("i") - col("n") - 1L) * col("c")).as("gini_num"))
      .select(col("doc_id"), col("n_types"), col("n_tokens"), col("gini_num"),
        ExactRound.r(col("gini_num").cast("double") /
          (col("n_types").cast("double") * col("n_tokens").cast("double")), 6).as("gini"))
      .orderBy("doc_id")
  }

  val tokenGiniSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${OracleCtes.lowerWordsSql("text")}) AS tok
       |  FROM documents
       |), cnts AS (
       |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
       |), ranked AS (
       |  SELECT doc_id, c,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY c, tok) AS i,
       |    count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM cnts
       |)
       |SELECT doc_id,
       |  CAST(max(n) AS BIGINT) AS n_types,
       |  CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(sum((2*i - n - 1) * c) AS BIGINT) AS gini_num,
       |  ${ExactRound.rSql(
             "CAST(sum((2*i - n - 1) * c) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * CAST(sum(c) AS DOUBLE))", 6)} AS gini
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PII / sensitive-content scrub: count pattern hits (emails, IPv4,
    * a sensitive-term dictionary), redact them, and fingerprint the
    * redacted text — the standard pre-training privacy pass. Pure
    * map-side (one projection, no shuffle) at any scale. The regexes
    * stay within the syntax Java's engine and RE2 interpret identically
    * (char classes, `\b`, bounded repetition — no backrefs/lookaround),
    * so the oracle matches bit-for-bit; on this synthetic corpus the
    * email/IP counts are legitimately zero (negative control) while the
    * term dictionary hits. */
  /** HTML BOILERPLATE STRIP — the first transform every web-crawl
    * pipeline runs (trafilatura/jusText territory: a crawl byte is
    * mostly markup, nav, script and footer; the model only wants the
    * article): each document is wrapped in a deterministic HTML page —
    * title, a script block, a nav div, the entity-ESCAPED text inside
    * the content `<p>`, an entity-bearing footer — and the stripper
    * must get the original back EXACTLY: drop script blocks, extract
    * the content container, decode entities in the right order
    * (`&amp;` LAST, or pre-escaped text corrupts — the classic
    * double-decode bug, certified here because the corpus text itself
    * contains `&`/`<`/`>`). `recovered_ok` pins byte-exact recovery;
    * `boilerplate_ratio` is the markup tax the strip removes — the
    * number that sizes a 100 TB crawl's usable-text fraction. All
    * regexp/replace string ops, codegen'd, map-only: no shuffle at all
    * until the final ORDER BY. */
  def htmlStrip(s: SparkSession, d: String): DataFrame = {
    val esc = expr(
      "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
    val html = concat(
      lit("<html><head><title>doc "), col("doc_id").cast("string"),
      lit("</title><script>var x=1;</script></head><body><div class=\"nav\">menu</div><p>"),
      esc,
      lit("</p><footer>&copy; 2024</footer></body></html>"))
    val noScript = regexp_replace(col("html"), "(?s)<script.*?</script>", "")
    val content = regexp_extract(noScript, "(?s)<p>(.*)</p>", 1)
    val decoded = expr(
      "replace(replace(replace(content, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), html.as("html"))
      .withColumn("content", content)
      .select(col("doc_id"),
        length(col("html")).as("n_chars_html"),
        length(col("text")).as("n_chars_text"),
        (decoded === col("text")).as("recovered_ok"),
        ExactRound.r((length(col("html")) - length(col("text"))).cast("double")
          / length(col("html")), 6).as("boilerplate_ratio"))
      .orderBy("doc_id")
  }

  /** The synthesis is the oracle: the wrapper is reconstructed in SQL,
    * so n_chars_html is analytic and recovered_ok is a pinned TRUE —
    * any strip/decode defect flips the hash. */
  val htmlStripSql: String = {
    val ratio = ExactRound.rSql(
      "CAST(length(html) - length(text) AS DOUBLE) / length(html)", 6)
    """WITH h AS (
      |  SELECT doc_id, text,
      |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><script>var x=1;</script></head><body><div class="nav">menu</div><p>' ||
      |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
      |    '</p><footer>&copy; 2024</footer></body></html>' AS html
      |  FROM documents
      |)
      |SELECT doc_id, CAST(length(html) AS INT) AS n_chars_html,
      |  CAST(length(text) AS INT) AS n_chars_text,
      |  TRUE AS recovered_ok,
      |  RATIO AS boilerplate_ratio
      |FROM h ORDER BY doc_id""".stripMargin.replace("RATIO", ratio)
  }

  def scrub(s: SparkSession, d: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val term = "\\b(customer|user|key)\\b"
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), email, "<EMAIL>"),
          ip, "<IP>"),
        term, "<TERM>")
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(ip)).cast("long").as("n_ip"),
        regexp_count(col("text"), lit(term)).cast("long").as("n_term"),
        md5(to_binary(redacted, lit("utf-8"))).as("clean_hash"))
      .withColumn("is_clean", (col("n_email") + col("n_ip") + col("n_term")) === 0)
      .orderBy("doc_id")
  }

  val scrubSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val term = "\\b(customer|user|key)\\b"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(text, '$term')) AS BIGINT) AS n_term,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$term', '<TERM>', 'g')) AS clean_hash,
       |  (len(regexp_extract_all(text, '$email')) + len(regexp_extract_all(text, '$ip'))
       |    + len(regexp_extract_all(text, '$term'))) = 0 AS is_clean
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Keyword-in-context (KWIC) extraction: for every document containing
    * the query term, its first-occurrence offset, total occurrence count
    * (exact, via the replace-length identity — no regex engine in the
    * loop), and a ±24-char context snippet. The concordance view every
    * corpus-exploration UI is built on; pure map-side scan, and the
    * pushed `instr > 0` predicate skips non-matching docs before any
    * string surgery. */
  def kwic(s: SparkSession, d: String): DataFrame = {
    val term = "spark"
    val pos = instr(col("text"), term)
    val start = greatest(pos - 24, lit(1))
    Tables.documents(s, d)
      .filter(pos > 0)
      .select(col("doc_id"), pos.cast("long").as("pos"),
        ((length(col("text")) - length(regexp_replace(col("text"), term, "")))
          / term.length).cast("long").as("n_occ"),
        col("text").substr(start, pos + lit(term.length + 24) - start).as("snippet"))
      .orderBy("doc_id")
  }

  val kwicSql: String =
    """SELECT doc_id, CAST(strpos(text, 'spark') AS BIGINT) AS pos,
      |  (length(text) - length(replace(text, 'spark', ''))) // 5 AS n_occ,
      |  substring(text, greatest(strpos(text, 'spark') - 24, 1),
      |    strpos(text, 'spark') + 29 - greatest(strpos(text, 'spark') - 24, 1)) AS snippet
      |FROM documents WHERE strpos(text, 'spark') > 0
      |ORDER BY doc_id""".stripMargin

  /** Lexical diversity: type-token ratio and hapax-legomenon ratio per
    * document — low TTR marks template/boilerplate text, high hapax
    * share marks OCR noise or vocabulary-dense prose; both standard
    * corpus-quality signals beside [[quality]]'s surface ratios. One
    * partial-agg shuffle on (doc_id, token) then a per-doc rollup —
    * token frequency never leaves its group, so the plan is the
    * wordcount shape at any corpus size. Ratios are single IEEE
    * divisions of exact longs. */
  def ttr(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(Tokens.words(col("text"))).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        ExactRound.r(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        ExactRound.r(col("n_hapax").cast("double") / col("n_types"), 6).as("hapax_ratio"))
      .orderBy("doc_id")
  }

  val ttrSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${OracleCtes.wordsSql("text")}) AS tok
       |  FROM documents
       |), freq AS (
       |  SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types,
       |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM freq GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens, n_types, n_hapax,
       |  ${ExactRound.rSql("CAST(n_types AS DOUBLE) / n_tokens", 6)} AS ttr,
       |  ${ExactRound.rSql("CAST(n_hapax AS DOUBLE) / n_types", 6)} AS hapax_ratio
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Character-diversity quality signal WITHOUT logarithms: Simpson
    * index 1 − Σp_i² over the document's character distribution, plus
    * the top-character fraction and distinct-character count — the
    * random-garbage / run-amok-repetition detector entropy usually
    * serves, in purely rational arithmetic (Σn_i² and n² are exact
    * longs; ONE final IEEE division per metric, so every value is
    * bit-portable — the engine-wide no-log discipline, same reason
    * t_tfidf uses ratio idf). Shape: explode chars → (doc, char) partial
    * agg → per-doc rollup — t_ttr at character granularity, wordcount-
    * shaped at any corpus size. */
  def charDiversity(s: SparkSession, d: String): DataFrame = {
    val chars = Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
    chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_chars"), count(lit(1)).as("n_distinct_chars"),
        sum(col("n") * col("n")).as("sum_sq"), max("n").as("top_n"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        ExactRound.r((col("n_chars") * col("n_chars") - col("sum_sq")).cast("double")
          / (col("n_chars") * col("n_chars")), 6).as("simpson"),
        ExactRound.r(col("top_n").cast("double") / col("n_chars"), 6).as("top_char_frac"))
      .orderBy("doc_id")
  }

  val charDiversitySql: String =
    s"""WITH chars AS (
       |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text
       |  FROM documents WHERE length(text) > 0
       |), freq AS (
       |  SELECT doc_id, substr(text, i, 1) AS ch, count(*) AS n FROM chars GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars, count(*) AS n_distinct_chars,
       |    CAST(sum(n * n) AS BIGINT) AS sum_sq, CAST(max(n) AS BIGINT) AS top_n
       |  FROM freq GROUP BY doc_id
       |)
       |SELECT doc_id, n_chars, n_distinct_chars,
       |  ${ExactRound.rSql("CAST(n_chars * n_chars - sum_sq AS DOUBLE) / (n_chars * n_chars)", 6)} AS simpson,
       |  ${ExactRound.rSql("CAST(top_n AS DOUBLE) / n_chars", 6)} AS top_char_frac
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Sentence segmentation statistics: sentence count, mean/max sentence
    * length — the readability-profile precursor (long-sentence tails mark
    * legalese/boilerplate; a mean near the max marks single-run text).
    * Splitting on `[.!?]+` runs is deliberately simple and engine-
    * portable; empty segments are filtered AFTER trim on both engines
    * because Java's split drops trailing empties while DuckDB keeps
    * them. Explode + partial agg keeps the plan the wordcount shape —
    * no per-doc buffering, sentences spill through the shuffle. */
  def sentences(s: SparkSession, d: String): DataFrame = {
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(split(col("text"), "[.!?]+")).as("seg"))
      .select(col("doc_id"), col("n_chars"), length(trim(col("seg"))).cast("long").as("slen"))
      .filter(col("slen") > 0)
    segs.groupBy("doc_id", "n_chars")
      .agg(count(lit(1)).as("n_sentences"),
        sum("slen").as("sent_chars"),
        max("slen").as("max_sent_chars"))
      .select(col("doc_id"), col("n_chars"), col("n_sentences"), col("max_sent_chars"),
        ExactRound.r(col("sent_chars").cast("double") / col("n_sentences"), 6)
          .as("mean_sent_chars"))
      .orderBy("doc_id")
  }

  val sentencesSql: String =
    s"""WITH segs AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(trim(seg)) AS BIGINT) AS slen
       |  FROM (
       |    SELECT doc_id, text, unnest(string_split_regex(text, '[.!?]+')) AS seg
       |    FROM documents
       |  )
       |  WHERE length(trim(seg)) > 0
       |)
       |SELECT doc_id, n_chars, count(*) AS n_sentences,
       |  max(slen) AS max_sent_chars,
       |  ${ExactRound.rSql("CAST(sum(slen) AS DOUBLE) / count(*)", 6)} AS mean_sent_chars
       |FROM segs GROUP BY doc_id, n_chars ORDER BY doc_id""".stripMargin

  /** Flesch-style readability score per document: words/sentence and
    * syllables/word (vowel-run proxy — the standard dictionary-free
    * approximation) folded as 206.835 − 1.015·wps − 84.6·spw. All three
    * raw counts are exact integers from one map-side projection
    * (sentence runs, whitespace tokens, `[aeiouyAEIOUY]+` runs); the
    * score is a fixed-order IEEE expression over them, identical across
    * engines, rounded once at the end. The cheap pre-filter between
    * [[quality]]'s surface ratios and model-based scoring. */
  def readability(s: SparkSession, d: String): DataFrame = {
    val nSent = size(filter(split(col("text"), "[.!?]+"), p => length(trim(p)) > 0))
      .cast("long")
    val nWords = size(Tokens.words(col("text"))).cast("long")
    val nSyll = size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0)))
      .cast("long")
    val score = lit(206.835) -
      lit(1.015) * (col("n_words").cast("double") / greatest(col("n_sentences"), lit(1L))) -
      lit(84.6) * (col("n_syllables").cast("double") / greatest(col("n_words"), lit(1L)))
    Tables.documents(s, d)
      .select(col("doc_id"), nSent.as("n_sentences"), nWords.as("n_words"),
        nSyll.as("n_syllables"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
        ExactRound.r(score, 4).as("flesch"))
      .orderBy("doc_id")
  }

  val readabilitySql: String =
    s"""WITH counts AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
       |      p -> length(trim(p)) > 0)) AS BIGINT) AS n_sentences,
       |    $nTokensSql AS n_words,
       |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syllables
       |  FROM documents
       |)
       |SELECT doc_id, n_sentences, n_words, n_syllables,
       |  ${ExactRound.rSql(
          """206.835 - 1.015 * (CAST(n_words AS DOUBLE) / greatest(n_sentences, 1))
            |    - 84.6 * (CAST(n_syllables AS DOUBLE) / greatest(n_words, 1))""".stripMargin, 4)} AS flesch
       |FROM counts ORDER BY doc_id""".stripMargin

  /** Vocabulary concentration (Zipf head-coverage): what fraction of all
    * token occurrences the top-k most frequent tokens cover, for
    * k ∈ {1, 10, 100, 1000} — the corpus-health check before tokenizer
    * training or quality filtering (a template-polluted crawl shows
    * head coverage far above natural-language Zipf). The frequency table
    * is one wordcount-shape partial agg; the global top-1000 comes from
    * `orderBy.limit` (TakeOrderedAndProject — per-partition heaps, never
    * a global sort), so vocabulary size never hits a single partition;
    * each top token then votes into every k ≥ its rank via a 4-literal
    * explode. Counts exact longs, coverage one rounded IEEE division. */
  def zipf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ks = Seq(1L, 10L, 100L, 1000L)
    val tf = graft.Tables.parallelize(Tables.documents(s, d))
      .select(explode(Tokens.words(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = tf.agg(sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    // unpartitioned window, bounded: it ranks the limit(1000) top tokens
    val top = tf.orderBy(col("cnt").desc, col("token")).limit(1000)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc, col("token"))))
    val head = top
      .select(col("cnt"), col("rnk"), explode(array(ks.map(lit): _*)).as("k"))
      .filter(col("rnk") <= col("k"))
      .groupBy("k").agg(sum(col("cnt")).as("head_tokens"))
    ks.toDF("k")
      .join(head, Seq("k"), "left")
      .crossJoin(broadcast(totals))
      .select(col("k"),
        coalesce(col("head_tokens"), lit(0L)).as("head_tokens"),
        col("total_tokens"), col("vocab_size"),
        ExactRound.r(coalesce(col("head_tokens"), lit(0L)).cast("double")
          / col("total_tokens"), 6).as("coverage"))
      .orderBy("k")
  }

  /** SQL twin: same frequency table, rank via row_number with the
    * identical (cnt DESC, token) tie-break, BIGINT casts on the sums
    * (DuckDB sums BIGINT into HUGEINT). */
  val zipfSql: String =
    s"""WITH tf AS (
       |  SELECT token, count(*) AS cnt FROM (
       |    SELECT unnest(${OracleCtes.wordsSql("text")}) AS token FROM documents
       |  ) WHERE token <> '' GROUP BY token
       |), tot AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens, count(*) AS vocab_size FROM tf
       |), top AS (
       |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk
       |  FROM tf ORDER BY cnt DESC, token LIMIT 1000
       |), ks AS (
       |  SELECT unnest([1, 10, 100, 1000]::BIGINT[]) AS k
       |), head AS (
       |  SELECT ks.k, CAST(sum(t.cnt) AS BIGINT) AS head_tokens
       |  FROM ks JOIN top t ON t.rnk <= ks.k GROUP BY ks.k
       |)
       |SELECT ks.k, coalesce(h.head_tokens, 0) AS head_tokens,
       |  tot.total_tokens, tot.vocab_size,
       |  ${ExactRound.rSql("CAST(coalesce(h.head_tokens, 0) AS DOUBLE) / tot.total_tokens", 6)} AS coverage
       |FROM ks LEFT JOIN head h USING (k), tot
       |ORDER BY k""".stripMargin

  /** Cross-source vocabulary overlap: per unordered source pair, the
    * Jaccard of the two sources' DISTINCT token vocabularies — the
    * domain-shift signal mixture planners read (two web sources sharing
    * 80 % of their vocabulary are near-interchangeable; a code source
    * overlapping 15 % with news is genuinely novel mass). Complements
    * [[graft.operators.Dedup.sourceOverlap]], which relates sources by
    * shared near-dup DOCUMENTS: vocabularies can converge while no
    * single document is duplicated.
    *
    * Shape: one distinct over (source, token) — vocabulary-sized, not
    * corpus-sized — then a self-equi-join ON TOKEN whose per-token
    * fan-out is bounded by source-pair count (≤ k² pairs for k sources,
    * never corpus rows), a pair-count aggregate, and two broadcast
    * joins against the k-row vocab-size table. Every shuffle is keyed
    * on token or the 2-source pair; nothing scales with document
    * count beyond the initial scan. */
  def vocabOverlap(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.parallelize(Tables.documents(s, d))
      .select(col("source"), explode(Tokens.lowerWords(col("text"))).as("tok"))
      .distinct()
    val sizes = tok.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = tok.as("a").join(tok.as("b"), "tok")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("v").as("v_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("v").as("v_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"), col("n_shared"),
        ExactRound.r(col("n_shared").cast("double") / (col("v_a") + col("v_b") - col("n_shared")), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** SQL twin: identical tokenization, distinct, and pair arithmetic. */
  val vocabOverlapSql: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT source, tok FROM (
       |    SELECT source,
       |      unnest(${OracleCtes.lowerWordsSql("text")}) AS tok
       |    FROM documents)
       |), sizes AS (
       |  SELECT source, count(*) AS v FROM tok GROUP BY source
       |), inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT source_a, source_b, sa.v AS v_a, sb.v AS v_b, n_shared,
       |  ${ExactRound.rSql("CAST(n_shared AS DOUBLE) / (sa.v + sb.v - n_shared)", 6)} AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.source = source_a
       |JOIN sizes sb ON sb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Cross-document template-sentence detection — the sentence-level
    * boilerplate remover (C4 removes repeated LINES; these docs are
    * single-line, so the sentence is the natural unit): a normalized
    * (lowercased, trimmed) sentence appearing in ≥ 3 DISTINCT documents
    * is template text (cookie banners, footers, generated headers), and
    * each doc reports how much of it is template. Complements
    * [[dupNgrams]] (fixed-width 5-grams can straddle sentence bounds and
    * dilute the signal) and d_prefix_dup (heads only). Shape: sentence
    * explode → dedupe to (sentence, doc) pairs → doc-frequency partial
    * agg keyed by sentence (Zipf-safe: hot template sentences combine
    * map-side) → one re-join on the sentence key → per-doc rollup.
    * Nothing is ever buffered per doc; the sentence key-space is
    * corpus-vocabulary-sized, not corpus-sized. */
  def templateSentences(s: SparkSession, d: String): DataFrame = {
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("seg"))
      .select(col("doc_id"), lower(trim(col("seg"))).as("sent"))
      .filter(length(col("sent")) > 0)
    val df = segs.select("doc_id", "sent").distinct()
      .groupBy("sent").agg(count(lit(1)).as("doc_freq"))
    segs.join(df, "sent")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sentences"),
        sum((col("doc_freq") >= 3).cast("long")).as("n_template"),
        max(col("doc_freq")).as("max_doc_freq"))
      .select(col("doc_id"), col("n_sentences"), col("n_template"), col("max_doc_freq"),
        ExactRound.r(col("n_template").cast("double") / col("n_sentences"), 6)
          .as("template_ratio"),
        (col("n_template") * lit(2) >= col("n_sentences")).as("is_templated"))
      .orderBy("doc_id")
  }

  /** SQL twin: same split/trim/empty-filter discipline as t_sentences,
    * same distinct-doc frequency and ≥3-doc template threshold. */
  val templateSentencesSql: String =
    s"""WITH segs AS (
       |  SELECT doc_id, lower(trim(seg)) AS sent
       |  FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS seg
       |    FROM documents
       |  )
       |  WHERE length(trim(seg)) > 0
       |), df AS (
       |  SELECT sent, count(DISTINCT doc_id) AS doc_freq FROM segs GROUP BY sent
       |)
       |SELECT s.doc_id, count(*) AS n_sentences,
       |  CAST(sum(CASE WHEN f.doc_freq >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_template,
       |  max(f.doc_freq) AS max_doc_freq,
       |  ${ExactRound.rSql(
            "CAST(sum(CASE WHEN f.doc_freq >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
            6)} AS template_ratio,
       |  sum(CASE WHEN f.doc_freq >= 3 THEN 1 ELSE 0 END) * 2 >= count(*) AS is_templated
       |FROM segs s JOIN df f ON s.sent = f.sent
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** BM25 lexical ranking: top-10 documents for the two-term query
    * {spark, window} under Okapi BM25 (k1 = 1.2, b = 0.75). Uses the
    * log-free RATIO idf (N − df + 0.5)/(df + 0.5) — the same reasoning
    * as [[tfidf]]: `ln` is only guaranteed within 1 ulp across libm
    * implementations and could flip a rounded rank, while a fixed-order
    * chain of IEEE ops over exact integers (tf, df, dl, N) is
    * bit-identical in both engines. Per-term scores are rounded to 6
    * decimals BEFORE the per-doc sum; with ≤ 2 query terms the sum is a
    * single commutative IEEE add, so accumulation order cannot matter.
    * Scale shape: the tf table is filtered to the query terms AT THE
    * TOKENIZER (the big exploded stream never shuffles untargeted
    * terms), df/avgdl are broadcast scalars, and the final ranking is a
    * TakeOrdered top-10 — the per-query cost of a 100 TB corpus is one
    * token scan, which an inverted index (the tf table materialized and
    * bucketed by term) turns into a posting-list lookup. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "window")
    val toks = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(Tokens.words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum("dl").as("total"))
      .select(col("nd"), (col("total").cast("double") / col("nd")).as("avgdl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfPart = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), ExactRound.r(idf * tfPart, 6).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), ExactRound.r(sum("sc"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** SQL twin: identical operator order in every float expression. */
  val bm25Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(${OracleCtes.wordsSql("text")}) AS term
       |    FROM documents
       |  ) WHERE term <> ''
       |), dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
       |), stats AS (
       |  SELECT count(*) AS nd, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ('spark', 'window') GROUP BY 1, 2
       |), df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), scored AS (
       |  SELECT t.doc_id,
       |    ${ExactRound.rSql(
             "((s.nd - f.df + 0.5) / (f.df + 0.5)) * " +
               "((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / s.avgdl))))", 6)} AS sc
       |  FROM tf t JOIN df f USING (term) JOIN dl l USING (doc_id), stats s
       |)
       |SELECT doc_id, count(*) AS n_terms,
       |  ${ExactRound.rSql("sum(sc)", 6)} AS bm25
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** Bigram language-model head: for the 20 highest-mass contexts w₁,
    * the top-3 next tokens with conditional probability c(w₁,w₂)/c(w₁·)
    * — the n-gram LM estimation step (and the table a speculative-
    * decoding draft or an autocomplete serves), kept bit-exact because
    * every quantity is an integer count and the probability is one
    * rounded IEEE division. Scale shape: bigram counts partial-agg
    * map-side (wordcount shape), context mass is a second partial agg
    * over the BIGRAM VOCABULARY (not the corpus), the context cut is a
    * TakeOrdered top-20, and the rank window runs on the ≤20-context
    * slice after a broadcast semi-join — no global window anywhere. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pair = Tables.parallelize(Tables.documents(s, d))
      .select(explode(graft.functions.MinHashFns.word_shingles(
        Tokens.words(col("text")), 2, distinct = false)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val cnt = pair.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val top = cnt.groupBy("w1").agg(sum("c").as("ctx_total"))
      .orderBy(col("ctx_total").desc, col("w1")).limit(20)
    val w = Window.partitionBy("w1").orderBy(col("c").desc, col("w2"))
    cnt.join(broadcast(top), "w1")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("w1"), col("rnk"), col("w2"), col("c").as("n_occ"),
        ExactRound.r(col("c").cast("double") / col("ctx_total"), 6).as("prob"))
      .orderBy("w1", "rnk")
  }

  /** SQL twin: same shingle split, same top-20/top-3 tie-breaks. */
  val bigramLmSql: String =
    s"""WITH bg AS (
       |  SELECT unnest(list_transform(
       |    generate_series(1, greatest(len(toks)-1, 0)),
       |    i -> ${OracleCtes.shinglesSql("toks", 2)})) AS bg
       |  FROM (SELECT ${OracleCtes.wordsSql("text")} AS toks FROM documents)
       |  WHERE len(toks) >= 2
       |), pair AS (
       |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM bg
       |), cnt AS (SELECT w1, w2, count(*) AS c FROM pair GROUP BY 1, 2
       |), top AS (
       |  SELECT w1, CAST(sum(c) AS BIGINT) AS ctx_total FROM cnt GROUP BY 1
       |  ORDER BY ctx_total DESC, w1 LIMIT 20
       |), ranked AS (
       |  SELECT c.w1, c.w2, c.c, t.ctx_total,
       |    row_number() OVER (PARTITION BY c.w1 ORDER BY c.c DESC, c.w2) AS rnk
       |  FROM cnt c JOIN top t USING (w1)
       |)
       |SELECT w1, CAST(rnk AS BIGINT) AS rnk, w2, c AS n_occ,
       |  ${ExactRound.rSql("CAST(c AS DOUBLE) / ctx_total", 6)} AS prob
       |FROM ranked WHERE rnk <= 3 ORDER BY w1, rnk""".stripMargin

  /** NEAR-SPELLING PAIR MINING — vocabulary word pairs within edit
    * distance 2, with both words' corpus counts: the
    * misspelling→correction signal a corpus-cleaning pass feeds a
    * normalizer (the frequency-ratio cut that separates typo from
    * legitimate variant is the consumer's policy knob — the counts are
    * emitted, not pre-filtered). The scale problem is the pair join:
    * all-pairs Levenshtein over a vocabulary is O(V²) string
    * comparisons; here candidates come from FastSS
    * DELETION-NEIGHBORHOOD BLOCKING (Bocek'07): each word emits its
    * identity, 1-deletion and 2-deletion variants, and ed(u,v) ≤ 2 —
    * any mix of substitutions/insertions/deletions — implies the
    * neighborhoods intersect, so candidate generation is ONE
    * vocabulary-sized equi-join on variant strings; `levenshtein`
    * (built-in, codegen'd) verifies the few candidates exactly (a
    * shared variant only bounds ed ≤ 4). Corpus contributes only
    * through the count weights (the t_bpe_train discipline). */
  def typoPairs(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.parallelize(Tables.documents(s, d))
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 3)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint() // keep: reuse
    // D₀ ∪ D₁ ∪ D₂: the word, every 1-deletion, every 2-deletion
    // (delete j > i after j so index i stays valid). ed(u,v) ≤ 2 ⟹ the
    // neighborhoods intersect (FastSS); a shared variant only bounds
    // ed ≤ 4, so the exact verify below is load-bearing, not paranoia.
    val del1 = "concat(substring(w, 1, j - 1), substring(w, j + 1))"
    val variants = vocab.select(col("w"), col("n"), explode(array_distinct(expr(
      s"""flatten(transform(sequence(0, length(w) - 1), i ->
         |  IF(i = 0,
         |     transform(sequence(0, length(w)), j -> IF(j = 0, w, $del1)),
         |     transform(sequence(i + 1, length(w)), j ->
         |       concat(substring($del1, 1, i - 1), substring($del1, i + 1))))))""".stripMargin)))
      .as("variant"))
    val a = variants.select(col("variant"), col("w").as("w1"), col("n").as("n1"))
    val b = variants.select(col("variant"), col("w").as("w2"), col("n").as("n2"))
    a.join(b, "variant")
      .filter(col("w1") < col("w2"))
      .select("w1", "n1", "w2", "n2").distinct()
      .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("long"))
      .filter(col("dist") <= 2)
      .orderBy("dist", "w1", "w2")
  }

  /** SQL twin: same deletion neighborhoods, same exact verify. */
  val typoPairsSql: String = {
    val del1 = "substr(w, 1, j - 1) || substr(w, j + 1)"
    s"""WITH vocab AS (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
       |  ) WHERE length(w) >= 3 GROUP BY w
       |), variants AS (
       |  SELECT DISTINCT w, n, unnest(list_distinct(flatten(list_transform(
       |    generate_series(0, length(w) - 1), i ->
       |      CASE WHEN i = 0 THEN
       |        list_transform(generate_series(0, length(w)), j ->
       |          CASE WHEN j = 0 THEN w ELSE $del1 END)
       |      ELSE
       |        list_transform(generate_series(i + 1, length(w)), j ->
       |          substr($del1, 1, i - 1) || substr($del1, i + 1))
       |      END)))) AS variant
       |  FROM vocab
       |), cand AS (
       |  SELECT DISTINCT a.w AS w1, a.n AS n1, b.w AS w2, b.n AS n2
       |  FROM variants a JOIN variants b USING (variant)
       |  WHERE a.w < b.w
       |)
       |SELECT w1, n1, w2, n2, CAST(levenshtein(w1, w2) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(w1, w2) <= 2
       |ORDER BY dist, w1, w2""".stripMargin
  }

  /** LM-BASED QUALITY SCORING — the model-driven curation filter (the
    * heuristic-free complement to `t_quality`): every document scored
    * under a bigram language model trained on a REFERENCE corpus (the
    * even doc_ids — scoring new data under a trusted corpus's model is
    * the production shape; the split makes OOV real instead of
    * vacuous). Per doc: mean conditional bigram probability — Σ
    * ⌊10⁶·c(w1,w2)/c(w1·)⌋ over its bigrams (unseen bigram → 0 and an
    * OOV count), one IEEE division at the end. Deliberately LOG-FREE:
    * a perplexity's ln() is not bit-portable across engines, while
    * integer-micros probability mass ranks documents identically for
    * the filter's purpose (template/natural text scores high, gibberish
    * and OOV-heavy docs low). Scale shape: the model is a seen-bigram
    * table (vocabulary-bounded, partial-agg built), scoring is one
    * equi-join of the doc-bigram stream against it — wordcount-shaped
    * at any corpus size. */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val pair = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), explode(graft.functions.MinHashFns.word_shingles(
        Tokens.words(col("text")), 2, distinct = false)).as("bg"))
      .select(col("doc_id"), split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val model = pair.filter(col("doc_id") % 2 === 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy("w1").agg(sum("c12").as("c1"))
    val prob = model.join(ctx, "w1")
      .select(col("w1"), col("w2"), expr("(1000000 * c12) div c1").as("p_us"))
    pair.join(prob, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("p_us").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("p_us"), lit(0L))).as("sum_us"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        ExactRound.r(col("sum_us").cast("double") / (col("n_bigrams") * lit(1000000.0)), 6)
          .as("lm_score"))
      .orderBy("doc_id")
  }

  /** SQL twin: same shingle stream, same even-doc model, same
    * integer-micros probability floor. */
  val lmScoreSql: String =
    s"""WITH pair AS (
       |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(len(toks)-1, 0)),
       |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
       |    FROM (SELECT doc_id, ${OracleCtes.wordsSql("text")} AS toks
       |          FROM documents)
       |    WHERE len(toks) >= 2
       |  )
       |), model AS (
       |  SELECT w1, w2, count(*) AS c12 FROM pair WHERE doc_id % 2 = 0 GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM model GROUP BY 1
       |), prob AS (
       |  SELECT w1, w2, (1000000 * c12) // c1 AS p_us FROM model JOIN ctx USING (w1)
       |), scored AS (
       |  SELECT pair.doc_id, count(*) AS n_bigrams,
       |    CAST(sum(CASE WHEN p_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |    CAST(sum(coalesce(p_us, 0)) AS BIGINT) AS sum_us
       |  FROM pair LEFT JOIN prob USING (w1, w2) GROUP BY 1
       |)
       |SELECT doc_id, n_bigrams, n_oov,
       |  ${ExactRound.rSql("CAST(sum_us AS DOUBLE) / (n_bigrams * 1000000.0)", 6)} AS lm_score
       |FROM scored ORDER BY doc_id""".stripMargin

  /** First BPE merge step — tokenizer training at corpus scale: the 20
    * most frequent ADJACENT CHARACTER pairs, weighted by word
    * frequency. The scale trick is the real BPE one: aggregate the
    * corpus to its VOCABULARY first (word, count), then enumerate char
    * pairs over distinct words only — pair extraction cost is
    * vocabulary-sized, not corpus-sized, and the corpus contributes
    * through the integer weight. Pure counts + TakeOrdered top-20, so
    * bit-exact trivially. (A full BPE trainer iterates this with a
    * merge applied per round; round 1 is the representative kernel —
    * each subsequent round is the same plan over a re-segmented
    * vocabulary.) */
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.parallelize(Tables.documents(s, d))
      .select(explode(Tokens.words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("n"))
    vocab.filter(length(col("term")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("n").as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(20)
  }

  /** SQL twin: same vocabulary-first weighting, same top-20 tie-break. */
  val bpePairsSql: String =
    s"""WITH tok AS (
      |  SELECT term FROM (
      |    SELECT unnest(${OracleCtes.wordsSql("text")}) AS term
      |    FROM documents
      |  ) WHERE term <> ''
      |), vocab AS (SELECT term, count(*) AS n FROM tok GROUP BY 1
      |), pairs AS (
      |  SELECT n, unnest(list_transform(
      |    generate_series(1, length(term) - 1), i -> substr(term, i, 2))) AS pair
      |  FROM vocab WHERE length(term) >= 2
      |)
      |SELECT pair, CAST(sum(n) AS BIGINT) AS n_occ
      |FROM pairs GROUP BY pair
      |ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin

  // ---------------------------------------------------------- bpe_train

  /** Number of BPE merge rounds trained/unrolled by [[bpeTrain]]. */
  private val BpeRounds = 10

  /** ITERATIVE BPE TRAINING — the real tokenizer-training kernel
    * ([[bpePairs]] is its first step only): [[BpeRounds]] merge rounds
    * over the (word, count) vocabulary, each round = count adjacent
    * symbol pairs weighted by word frequency → pick the top pair
    * (count desc, then lexicographic — fully deterministic) → apply
    * the merge to every word. Output: the learned merge table, one row
    * per round with the merged pair and its weighted frequency.
    *
    * Scale shape (the property that matters at 100 TB): after the one
    * corpus scan that builds the vocabulary, every round's work is
    * VOCABULARY-sized — the corpus contributes only through the count
    * weights, and the per-round top pair moves to the merge step as a
    * broadcast 1-row join, never a collect. Rounds are unrolled with a
    * `localCheckpoint` per round (the s_kmeans_iter discipline: a
    * fixed round budget with lineage truncation, not an unbounded
    * recursive plan).
    *
    * Word symbols are token-delimited (`hello` → `<h><e><l><l><o><_>`,
    * `_` = end-of-word): with every symbol individually bracketed, the
    * merge is ONE left-to-right non-overlapping string `replace`
    * (`<l><r>` → `<lr>`) whose semantics Spark and DuckDB share
    * exactly — including the greedy-BPE behavior on runs
    * (`aaa`: pair counted twice, merged once). Symbols are `[a-z_]`,
    * so the `<` `>` delimiters can never collide. */
  /** The shared training loop behind [[bpeTrain]] (the merge table) and
    * [[bpeApply]] (the final merged vocabulary): threads the source
    * `term` through every round so the apply side can join the merged
    * symbol count back to per-document term counts. */
  private def bpeLoop(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    val vocab = Tables.parallelize(Tables.documents(s, d))
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .select(col("term"),
        concat(regexp_replace(col("term"), "(.)", "<$1>"), lit("<_>")).as("w"), col("n"))
    def pairCounts(words: DataFrame): DataFrame =
      words
        .select(col("n"), expr("split(substring(w, 2, length(w) - 2), '><')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n").as("n_occ"))
    var words = vocab.localCheckpoint() // keep: reuse
    val merges = Seq.newBuilder[DataFrame]
    // loop partitions from the measured vocabulary size, AQE's
    // per-stage jobs off for the rounds (Shared.withLoopParallelism)
    Shared.withLoopParallelism(s, words.count()) {
      for (r <- 1 to BpeRounds) {
        val best = pairCounts(words)
          .orderBy(col("n_occ").desc, col("l"), col("r")).limit(1)
          .localCheckpoint() // keep: round
        merges += best.select(lit(r).as("round"),
          col("l").as("left_sym"), col("r").as("right_sym"), col("n_occ"))
        words = words.crossJoin(broadcast(best))
          .select(col("term"),
            replace(col("w"),
              concat(lit("<"), col("l"), lit("><"), col("r"), lit(">")),
              concat(lit("<"), col("l"), col("r"), lit(">"))).as("w"),
            col("n"))
          .localCheckpoint() // keep: round
      }
    }
    (merges.result(), words)
  }

  /** One memo for both halves of [[bpeLoop]]: the merge table and the
    * final merged vocabulary come out of the same 10-round training
    * loop, so ONE build runs it once and writes both tables, and THREE
    * queries (t_bpe_train; t_bpe_apply and t_fertility) read their half
    * — the [[Dedup.ngramJaccard]] memo discipline applied to tokenizer
    * training. Longs and strings only, so the parquet round-trip is
    * exact; every consumer stays oracle-gated. */
  private def bpeMemo(s: SparkSession, d: String, table: String): DataFrame = {
    val dir = Shared.memoDir(s, d, "bpe") { dir =>
      val (merges, words) = bpeLoop(s, d)
      Shared.writeTable(dir, "merges", merges.reduce(_ unionByName _))
      Shared.writeTable(dir, "words", words)
    }
    Tables.read(s, new java.io.File(dir, table).toString)
  }
  private def bpeMergesMemo(s: SparkSession, d: String): DataFrame = bpeMemo(s, d, "merges")
  private def bpeWordsMemo(s: SparkSession, d: String): DataFrame = bpeMemo(s, d, "words")

  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeMergesMemo(s, d).orderBy("round")

  /** SQL twin: the identical [[BpeRounds]] rounds unrolled as chained
    * CTEs — same encoding, same pair weighting, same (count desc,
    * lexicographic) tie-break, same single-`replace` merge. */
  val bpeTrainSql: String = {
    def pairsCte(wTbl: String, out: String): String =
      s"""$out AS (
         |  SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS n_occ FROM (
         |    SELECT n, unnest(list_transform(generate_series(1, len(s) - 1),
         |        i -> struct_pack(l := s[i], r := s[i+1]))) AS u
         |    FROM (SELECT string_split(substr(w, 2, length(w) - 2), '><') AS s, n FROM $wTbl)
         |    WHERE len(s) >= 2
         |  ) GROUP BY u.l, u.r
         |)""".stripMargin
    def bestCte(pTbl: String, out: String): String =
      s"$out AS (SELECT l, r, n_occ FROM $pTbl ORDER BY n_occ DESC, l, r LIMIT 1)"
    def mergeCte(wTbl: String, bTbl: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT replace(w,
         |    '<' || (SELECT l FROM $bTbl) || '><' || (SELECT r FROM $bTbl) || '>',
         |    '<' || (SELECT l FROM $bTbl) || (SELECT r FROM $bTbl) || '>') AS w, n
         |  FROM $wTbl
         |)""".stripMargin
    val rounds = (1 to BpeRounds).map { k =>
      Seq(pairsCte(s"w${k - 1}", s"p$k"), bestCte(s"p$k", s"b$k")) ++
        (if (k < BpeRounds) Seq(mergeCte(s"w${k - 1}", s"b$k", s"w$k")) else Nil)
    }.flatten
    val finalSelect = (1 to BpeRounds).map { k =>
      s"SELECT CAST($k AS INTEGER) AS round, l AS left_sym, r AS right_sym, n_occ FROM b$k"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY round")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT regexp_replace(term, '(.)', '<\\1>', 'g') || '<_>' AS w,
       |    count(*) AS n
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents)
       |  GROUP BY 1
       |),
       |${rounds.mkString(",\n")}
       |$finalSelect""".stripMargin
  }

  /** BPE TOKENIZER APPLY — ENCODE the corpus with the merges
    * [[bpeTrain]] learned (the other half of tokenizer training, and
    * the op that actually runs at 100 TB: training is
    * vocabulary-sized, but every document must then be ENCODED). The
    * scale trick is the same one training uses: merges are applied to
    * the DISTINCT VOCABULARY (running the identical broadcast-merge
    * loop), and per-document token counts come from joining the merged
    * symbol count back to per-doc term counts — the corpus is scanned
    * once for term counting and never re-tokenized row by row. Output
    * per doc: encoded token count, base (character+end) symbol count,
    * and the compression ratio the merge table bought — the number a
    * tokenizer-training run is judged by. Docs with no `[a-z]+` terms
    * have nothing to encode and are absent by definition. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val wfin = bpeWordsMemo(s, d)
      .select(col("term"),
        size(expr("split(substring(w, 2, length(w) - 2), '><')")).cast("long").as("n_syms"))
    val docterms = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    docterms.join(wfin, "term")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("n_syms")).as("n_tokens"),
        sum(col("c") * (length(col("term")) + lit(1))).as("n_base"))
      .select(col("doc_id"), col("n_tokens"), col("n_base"),
        graft.operators.ExactRound.r(
          col("n_tokens").cast("double") / col("n_base"), 6).as("ratio"))
      .orderBy("doc_id")
  }

  /** SQL twin: the training CTE chain with `term` threaded through and
    * the round-[[BpeRounds]] merge applied (train's twin skips it —
    * the merge table doesn't need the final words; the encoder does),
    * then the same vocabulary join against per-doc term counts. */
  /** The encode-side CTE chain (vocab build → [[BpeRounds]] threaded
    * merges → `wfin(term, n_syms)`), shared by [[bpeApplySql]] and
    * [[fertilitySql]]. Splice as `WITH $bpeApplyChainSql, ...`. */
  private val bpeApplyChainSql: String = {
    def pairsCte(wTbl: String, out: String): String =
      s"""$out AS (
         |  SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS n_occ FROM (
         |    SELECT n, unnest(list_transform(generate_series(1, len(s) - 1),
         |        i -> struct_pack(l := s[i], r := s[i+1]))) AS u
         |    FROM (SELECT string_split(substr(w, 2, length(w) - 2), '><') AS s, n FROM $wTbl)
         |    WHERE len(s) >= 2
         |  ) GROUP BY u.l, u.r
         |)""".stripMargin
    def bestCte(pTbl: String, out: String): String =
      s"$out AS (SELECT l, r, n_occ FROM $pTbl ORDER BY n_occ DESC, l, r LIMIT 1)"
    def mergeCte(wTbl: String, bTbl: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT term, replace(w,
         |    '<' || (SELECT l FROM $bTbl) || '><' || (SELECT r FROM $bTbl) || '>',
         |    '<' || (SELECT l FROM $bTbl) || (SELECT r FROM $bTbl) || '>') AS w, n
         |  FROM $wTbl
         |)""".stripMargin
    val rounds = (1 to BpeRounds).flatMap { k =>
      Seq(pairsCte(s"w${k - 1}", s"p$k"), bestCte(s"p$k", s"b$k"),
        mergeCte(s"w${k - 1}", s"b$k", s"w$k"))
    }
    s"""w0 AS MATERIALIZED (
       |  SELECT term, regexp_replace(term, '(.)', '<\\1>', 'g') || '<_>' AS w,
       |    count(*) AS n
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents)
       |  GROUP BY term
       |),
       |${rounds.mkString(",\n")},
       |wfin AS MATERIALIZED (
       |  SELECT term, CAST(len(string_split(substr(w, 2, length(w) - 2), '><')) AS BIGINT)
       |    AS n_syms
       |  FROM w$BpeRounds
       |)""".stripMargin
  }

  val bpeApplySql: String =
    s"""WITH $bpeApplyChainSql,
       |docterms AS (
       |  SELECT doc_id, term, count(*) AS c FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
       |    FROM documents
       |  ) GROUP BY doc_id, term
       |)
       |SELECT d.doc_id,
       |  CAST(sum(d.c * f.n_syms) AS BIGINT) AS n_tokens,
       |  CAST(sum(d.c * (length(d.term) + 1)) AS BIGINT) AS n_base,
       |  ${graft.operators.ExactRound.rSql(
            "CAST(sum(d.c * f.n_syms) AS DOUBLE) / sum(d.c * (length(d.term) + 1))", 6)} AS ratio
       |FROM docterms d JOIN wfin f USING (term)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** TOKENIZER FERTILITY by language — the multilingual-bias
    * measurement every tokenizer report carries (Rust et al.'21 /
    * the XLM-R appendix shape): pieces-per-word and pieces-per-base-
    * symbol for the SAME merge table, rolled up per lang tag. A
    * tokenizer trained on one distribution quietly taxes the others —
    * a high-fertility language pays more sequence length (more
    * compute, less context) for the same text, and this emits the
    * per-lang number that decides whether the vocabulary needs
    * rebalancing BEFORE a 100 TB encode run commits to it. Same scale
    * shape as [[bpeApply]]: merges run on the distinct vocabulary,
    * the corpus is scanned once for (lang, term) counts, fertility
    * falls out of one join + one aggregate. Exact integer word/piece/
    * char totals; two rounded ratios. */
  def fertility(s: SparkSession, d: String): DataFrame = {
    val wfin = bpeWordsMemo(s, d)
      .select(col("term"),
        size(expr("split(substring(w, 2, length(w) - 2), '><')")).cast("long").as("n_syms"))
    val langTerms = Tables.parallelize(Tables.documents(s, d))
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))
    langTerms.join(wfin, "term")
      .groupBy("lang")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_syms")).as("n_pieces"),
        sum(col("c") * (length(col("term")) + lit(1))).as("n_base"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_base"),
        graft.operators.ExactRound.r(
          col("n_pieces").cast("double") / col("n_words"), 6).as("fertility"),
        graft.operators.ExactRound.r(
          col("n_pieces").cast("double") / col("n_base"), 6).as("compression"))
      .orderBy("lang")
  }

  /** SQL twin: the shared encode chain + a per-lang rollup. */
  val fertilitySql: String =
    s"""WITH $bpeApplyChainSql,
       |lt AS (
       |  SELECT lang, term, count(*) AS c FROM (
       |    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
       |    FROM documents
       |  ) GROUP BY lang, term
       |)
       |SELECT l.lang,
       |  CAST(sum(l.c) AS BIGINT) AS n_words,
       |  CAST(sum(l.c * f.n_syms) AS BIGINT) AS n_pieces,
       |  CAST(sum(l.c * (length(l.term) + 1)) AS BIGINT) AS n_base,
       |  ${graft.operators.ExactRound.rSql(
            "CAST(sum(l.c * f.n_syms) AS DOUBLE) / sum(l.c)", 6)} AS fertility,
       |  ${graft.operators.ExactRound.rSql(
            "CAST(sum(l.c * f.n_syms) AS DOUBLE) / sum(l.c * (length(l.term) + 1))", 6)} AS compression
       |FROM lt l JOIN wfin f USING (term)
       |GROUP BY l.lang ORDER BY l.lang""".stripMargin

  /** CODE-VS-PROSE detection — the curation split every mixed web
    * corpus needs before training (code and prose want different
    * dedup, quality and mixing policies): per document, the standard
    * surface signals — code-symbol count (`{};=<>()[]#`), brace count,
    * indented-line count (leading 2-space/tab — the whitespace shape
    * prose never has) — reduced to an integer per-mille symbol density
    * (pure integer division: no FP crosses engines) and a
    * deterministic policy flag. All codegen'd string ops on a single
    * scan; the thresholds are policy inputs a deployment tunes, the
    * shape (one pass, integer scores) is the operator. */
  def codeDetect(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[{};=<>()\\[\\]#]", "")))
          .cast("long").as("n_symbols"),
        (length(col("text")) - length(regexp_replace(col("text"), "[{}]", "")))
          .cast("long").as("n_braces"),
        size(filter(split(col("text"), "\n"), l => l.rlike("^(  |\t)")))
          .cast("long").as("indent_lines"))
      .withColumn("sym_permille", expr("(1000 * n_symbols) div n_chars"))
      .withColumn("is_code",
        col("sym_permille") >= 30 && col("n_braces") >= 2)
      .orderBy("doc_id")

  val codeDetectSql: String =
    """SELECT doc_id, n_chars, n_symbols, n_braces, indent_lines,
      |  CAST((1000 * n_symbols) // n_chars AS BIGINT) AS sym_permille,
      |  ((1000 * n_symbols) // n_chars >= 30 AND n_braces >= 2) AS is_code
      |FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[{};=<>()\[\]#]', '', 'g')) AS BIGINT)
      |      AS n_symbols,
      |    CAST(length(text) - length(regexp_replace(text, '[{}]', '', 'g')) AS BIGINT)
      |      AS n_braces,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |      l -> regexp_matches(l, '^(  |\t)'))) AS BIGINT) AS indent_lines
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** SKIP-GRAM PAIR COUNTS — the word2vec/GloVe training-data kernel
    * (co-occurrence within a ±2 window), and the LLM-adjacent shape
    * that tests the engine's ARRAY path: pairs are generated INSIDE
    * each document's token array with codegen'd higher-order functions
    * (sequence → per-position offset filter → struct pairs → flatten →
    * explode) — no positional self-join, so nothing document-sized
    * ever crosses a shuffle; after the explode it is wordcount-shaped
    * (partial-agg on pair keys). Top-30 by count with full tie-break.
    * The oracle generates the same pairs via a positional self-join —
    * two formulations, one answer. */
  def skipgramPairs(s: SparkSession, d: String): DataFrame =
    Tables.parallelize(Tables.documents(s, d))
      .select(filter(Tokens.lowerWords(col("text")),
        t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(toks) - 1), i ->
          |  transform(filter(array(i - 2, i - 1, i + 1, i + 2),
          |      j -> j >= 0 AND j < size(toks)),
          |    j -> struct(toks[i] AS c, toks[j] AS x))))""".stripMargin)).as("p"))
      .groupBy(col("p.c").as("center"), col("p.x").as("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center"), col("context"))
      .limit(30)

  val skipgramPairsSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(${OracleCtes.lowerWordsSql("text")},
      |      t -> len(t) > 0) AS l
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(l, (x, i) -> struct_pack(pos := i, tok := x))) AS u
      |    FROM toks)
      |), pairs AS (
      |  SELECT a.tok AS center, b.tok AS context
      |  FROM p a JOIN p b
      |    ON a.doc_id = b.doc_id AND a.pos <> b.pos AND abs(a.pos - b.pos) <= 2
      |)
      |SELECT center, context, count(*) AS n
      |FROM pairs GROUP BY 1, 2
      |ORDER BY n DESC, center, context LIMIT 30""".stripMargin

  /** UNICODE NORMALIZATION dedup — the invisible-duplicate class exact
    * dedup misses: composed (U+00E9 `é`) and decomposed (`e` +
    * U+0301) spellings are byte-different, render identically, and
    * web corpora contain both (different editors emit different
    * forms) — so exact-hash dedup keeps both copies and the model
    * trains on doubled text. The corpus is ASCII-heavy, so both forms
    * are PLANTED deterministically: every doc_id % 20 == 0 base doc
    * gets a composed-suffix variant (id + 10M) and a decomposed-suffix
    * variant (id + 20M); per doc the kernel computes NFC-normalized
    * length (`java.text.Normalizer` in a typed map — the JDK's
    * normalizer is the reference implementation; Spark has no
    * normalization builtin) and the changed flag, and the dedup
    * aggregates group by md5(nfc(text)): every planted pair — equal
    * after NFC, different raw — must collapse to one group of 2.
    * DuckDB's `nfc_normalize` replays the whole construction. */
  def unicodeNorm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 20 === 0)
    val composed = planted.select((col("doc_id") + 10000000L).as("doc_id"),
      concat(col("text"), lit(" café")).as("text"))
    val decomposed = planted.select((col("doc_id") + 20000000L).as("doc_id"),
      concat(col("text"), lit(" café")).as("text"))
    val all = base.unionAll(composed).unionAll(decomposed)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val nfc = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
        (id, t.length.toLong, nfc.length.toLong, nfc)
      })
      .toDF("doc_id", "raw_len", "nfc_len", "nfc")
    val groups = all.groupBy(md5(to_binary(col("nfc"), lit("utf-8"))).as("h"))
      .agg(count(lit(1)).as("k"))
    val pairs = groups.filter(col("k") > 1)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_dup_groups"),
        coalesce(sum(col("k")), lit(0L)).as("n_dup_docs"))
    all.agg(count(lit(1)).as("n_docs"),
      sum(when(col("raw_len") =!= col("nfc_len"), 1L).otherwise(0L)).as("n_changed"))
      .crossJoin(broadcast(pairs))
  }

  /** Oracle: the same planted construction through `nfc_normalize` —
    * counts replayed analytically (every planted base yields one
    * changed doc and one 2-doc NFC-equal group). */
  val unicodeNormSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |planted AS (SELECT doc_id, text FROM base WHERE doc_id % 20 = 0),
      |allr AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 10000000, text || ' caf' || chr(233) FROM planted
      |  UNION ALL
      |  SELECT doc_id + 20000000, text || ' cafe' || chr(769) FROM planted
      |), n AS (
      |  SELECT doc_id, length(text) AS raw_len,
      |    length(nfc_normalize(text)) AS nfc_len, nfc_normalize(text) AS nfc
      |  FROM allr
      |), g AS (
      |  SELECT md5(nfc) AS h, count(*) AS k FROM n GROUP BY 1
      |)
      |SELECT (SELECT count(*) FROM n) AS n_docs,
      |  (SELECT CAST(sum(CASE WHEN raw_len <> nfc_len THEN 1 ELSE 0 END) AS BIGINT)
      |   FROM n) AS n_changed,
      |  (SELECT count(*) FROM g WHERE k > 1) AS n_dup_groups,
      |  (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM g WHERE k > 1) AS n_dup_docs""".stripMargin

  // ------------------------------------------------- CDC-chunked MinHash

  /** CDC-CHUNKED MinHash dedup — near-dup detection robust to PREPENDED
    * boilerplate, where fixed-stride shingling degrades: a shared
    * header/license block shifts every downstream word position, but a
    * content-defined chunker (the [[graft.multimodal.Multimodal.cdcChunks]]
    * K=16 rolling hash, boundaries at hash % 64 = 0) RESYNCHRONIZES right
    * after the insertion, so all but the first chunk hashes are unchanged.
    * Each document is reduced to its distinct chunk-md5 SET; a 128-perm
    * MinHash signature over that set feeds the LSH band join at a
    * CENSUS-DERIVED rows-per-band ([[Dedup.censusBandRows]], r11: the
    * EmbedBands solve-geometry-from-the-corpus discipline on the
    * MinHash side — both rungs {1, 2} miss a true j ≥ 0.5 pair with
    * ≤ (1 − 0.25)^64 ≈ 1e-8, the [[Dedup.ngramJaccard]] completeness
    * argument verbatim, so the selection moves COST only and the
    * result still equals the brute-force oracle; the chosen rung is
    * emitted as the oracle-pinned `band_rows` column, the census
    * selection replayed by the twin), and surviving candidates are
    * verified by EXACT chunk-set intersection. Output: pairs with
    * chunk-set Jaccard ≥ 0.5 plus the geometry column.
    *
    * Scale shape: chunk fingerprints are ~1 row per 64 input bytes and
    * the band join is the [[Dedup.bandCandidates]] canonicalize-
    * before-pair machinery — nothing quadratic; the verify join touches
    * only band-colliding pairs. The oracle replays the chunker
    * byte-for-byte in SQL (the m_cdc_chunks recursive-CTE twin) and
    * brute-forces the set Jaccard. */
  def cdcMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.parallelize(Tables.documents(s, d))
      .select(col("doc_id"), col("text"),
        graft.functions.CdcFns.cdc_boundaries(col("text")).as("bounds"))
    val chunks = docs
      .select(col("doc_id"),
        explode(zip_with(
          concat(array(lit(0)), col("bounds")),
          concat(col("bounds"), array(length(col("text")))),
          (a, b) => struct(a.as("off"), (b - a).as("len")))).as("c"), col("text"))
      .select(col("doc_id"),
        md5(to_binary(expr("substr(text, c.off + 1, c.len)"), lit("utf-8"))).as("chunk_hash"))
    val sets = chunks.distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("chunk_hash"))).as("chs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val sigs = sets
      .withColumn("sig", graft.functions.MinHashFns.minhash_sig(col("chs")))
      .select(col("doc_id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // census-derived geometry (priced over distinct signatures BEFORE
    // any pair exists) — lands on rung 2 on every driver corpus
    val chosenR = Dedup.censusBandRows(sigs)
    val cands = Dedup.bandCandidates(Dedup.sigGroups(sigs), bandRows = chosenR)
    // r13: the exact verify runs sorted_jaccard over 64-bit hashes of
    // the chunk md5s instead of array_intersect/array_union over the
    // md5 STRING arrays (the d_lsh_tune treatment; signature/candidate
    // arithmetic stays on the md5 strings the oracle replays). Same
    // exact integers, same one IEEE division; the collision bound is
    // [[graft.functions.Hash64Collision]], and the string-exact twin
    // would flag a collision.
    val ca = sets.select(col("doc_id").as("doc_a"),
      sort_array(graft.functions.MinHashFns.word_hashes(col("chs"))).as("ch_a"))
    val cb = sets.select(col("doc_id").as("doc_b"),
      sort_array(graft.functions.MinHashFns.word_hashes(col("chs"))).as("ch_b"))
    // materialize, then RELEASE both persists (ADVICE r11): Bench
    // clears persistent RDDs between queries, but Verify's 349-query
    // sweep runs in one JVM and un-released MEMORY_AND_DISK blocks
    // accumulate for the whole run — the bandedPairs checkpoint-and-
    // release discipline, applied here
    val out = cands.join(ca, "doc_a").join(cb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        ExactRound.r(
          graft.functions.MinHashFns.sorted_jaccard(col("ch_a"), col("ch_b")), 6)
          .as("cdc_jaccard"),
        lit(chosenR.toLong).as("band_rows"))
      .filter(col("cdc_jaccard") >= 0.5)
      .localCheckpoint() // keep: outlives
    sets.unpersist(blocking = false); sigs.unpersist(blocking = false)
    out.orderBy("doc_a", "doc_b")
  }

  /** Brute-force chunk-set Jaccard over the byte-exact SQL chunker,
    * plus the census-derived geometry replay: recompute the 128-perm
    * signatures over the chunk sets ([[OracleCtes.minhashSigCtes]] over
    * chunk hashes instead of shingles), census both rungs
    * ([[OracleCtes.lshBucketCte]]) and re-run the identical min-priced
    * selection — pinning `band_rows` bit-exactly while the pair rows
    * stay the brute-force contract. */
  val cdcMinhashSql: String =
    s"""WITH RECURSIVE ${graft.multimodal.Multimodal.cdcChunkCte}, sets AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, chunk_hash AS elem FROM ch
       |), sz AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id
       |), ov AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isz
       |  FROM sets a JOIN sets b ON a.elem = b.elem AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), ${OracleCtes.minhashSigCtes("sets")}, ${OracleCtes.lshBucketCte(1)}, ${OracleCtes.lshBucketCte(2)},
       |csel_rr AS (
       |  SELECT CASE WHEN (SELECT coalesce(sum(b*(b-1)//2), 0) FROM bsz1)
       |                 < (SELECT coalesce(sum(b*(b-1)//2), 0) FROM bsz2)
       |         THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS r
       |)
       |SELECT doc_a, doc_b,
       |  ${ExactRound.rSql("CAST(isz AS DOUBLE) / (na + nb - isz)", 6)} AS cdc_jaccard,
       |  (SELECT r FROM csel_rr) AS band_rows
       |FROM (SELECT ov.doc_a, ov.doc_b, ov.isz, sa.n AS na, sb.n AS nb
       |      FROM ov JOIN sz sa ON sa.doc_id = ov.doc_a JOIN sz sb ON sb.doc_id = ov.doc_b)
       |WHERE ${ExactRound.rSql("CAST(isz AS DOUBLE) / (na + nb - isz)", 6)} >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------- WordPiece encode

  /** WORDPIECE greedy longest-match-first encoding — the tokenizer
    * family's third member beside BPE train/apply: BPE segments by
    * replaying an ordered merge list, WordPiece segments by greedy
    * maximal-munch against a piece VOCABULARY (initial pieces vs "##"
    * continuations), which is how BERT-style tokenizers run in
    * production. The vocab is derived from the corpus itself:
    * frequency-thresholded word prefixes (len 2–4, top 300 by weighted
    * count, ties by piece) as initial pieces, non-initial substrings
    * (len 2–4, top 300) as continuations, plus ALL single characters in
    * both (the progress guarantee — no unk token needed over [a-z]+
    * terms). Encoding is VOCABULARY-LEVEL (the t_bpe_apply discipline):
    * the greedy loop runs over DISTINCT terms — Heaps'-law-bounded,
    * ≪ corpus at 100 TB — never row-by-row, and each round is one
    * map-side expression against the two BROADCAST vocab arrays
    * (bounded ≤ 300 + alphabet each by construction). Output: the
    * realized piece table with corpus-weighted occurrence counts — the
    * artifact a tokenizer release ships.
    *
    * Greedy semantics (pinned, mirrored in the oracle): at position
    * p take the LONGEST len ∈ {4,3,2,1} whose substring is in the
    * position-appropriate vocab (initial at p = 1, continuation
    * after); single chars always match, so every term terminates in
    * ≤ |term| steps. */
  def wordpiece(s: SparkSession, d: String): DataFrame = {
    val words = Tables.parallelize(Tables.documents(s, d))
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val prefTop = words.filter(length(col("term")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, least(4, length(term))), l -> substring(term, 1, l))"))
        .as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("n"))
      .orderBy(desc("n"), col("piece")).limit(300)
    val contTop = words.filter(length(col("term")) >= 3)
      .select(explode(expr(
        """flatten(transform(sequence(2, length(term) - 1),
          |  p -> transform(sequence(2, least(4, length(term) - p + 1)),
          |       l -> substring(term, p, l))))""".stripMargin)).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("n"))
      .orderBy(desc("n"), col("piece")).limit(300)
    val initChars = words.select(expr("substring(term, 1, 1)").as("piece")).distinct()
    val contChars = words.filter(length(col("term")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, length(term)), p -> substring(term, p, 1))")).as("piece"))
      .distinct()
    // bounded by construction (<= 300 + alphabet each) -> broadcast literals
    val vInit = (prefTop.select("piece").collect().map(_.getString(0)) ++
      initChars.collect().map(_.getString(0))).distinct.sorted
    val vCont = (contTop.select("piece").collect().map(_.getString(0)) ++
      contChars.collect().map(_.getString(0))).distinct.sorted
    val initLit = lit(vInit)
    val contLit = lit(vCont)
    def matches(l: Int) =
      (col("pos") + (l - 1) <= length(col("term"))) &&
        when(col("pos") === 1, array_contains(initLit, expr(s"substring(term, pos, $l)")))
          .otherwise(array_contains(contLit, expr(s"substring(term, pos, $l)")))
    val pick = when(matches(4), 4).when(matches(3), 3).when(matches(2), 2).otherwise(1)
    var state = words
      .select(col("term"), col("cnt"), lit(1).as("pos"),
        array().cast("array<string>").as("pieces"))
      .localCheckpoint() // keep: round
    var done: DataFrame = state.filter(lit(false))
    var round = 0
    while (!state.isEmpty) {
      round += 1
      require(round <= 64, s"wordpiece segmentation did not terminate after $round rounds")
      val stepped = state
        .withColumn("pick", pick)
        .withColumn("pieces", concat(col("pieces"), array(
          when(col("pos") === 1, expr("substring(term, pos, pick)"))
            .otherwise(concat(lit("##"), expr("substring(term, pos, pick)"))))))
        .withColumn("pos", col("pos") + col("pick"))
        .select("term", "cnt", "pos", "pieces")
        .localCheckpoint() // keep: round
      done = done.unionByName(stepped.filter(col("pos") > length(col("term"))))
      state = stepped.filter(col("pos") <= length(col("term"))).localCheckpoint() // keep: round
    }
    done.select(explode(col("pieces")).as("piece"), col("cnt"))
      .groupBy("piece")
      .agg(sum("cnt").as("n_occ"))
      .select(col("piece"),
        when(col("piece").startsWith("##"), 1).otherwise(0).as("is_cont"),
        col("n_occ"))
      .orderBy("piece")
  }

  /** SQL twin: identical vocab CTEs (weighted top-300 + alphabet), then
    * the greedy maximal-munch as ONE recursive CTE whose step computes
    * the pick by length-guarded membership against the vocab tables. */
  val wordpieceSql: String = {
    def inV(l: Int): String =
      s"""(pos + ${l - 1} <= length(term) AND (CASE WHEN pos = 1
         |    THEN substr(term, pos, $l) IN (SELECT piece FROM vinit)
         |    ELSE substr(term, pos, $l) IN (SELECT piece FROM vcont) END))""".stripMargin
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents
       |  ) GROUP BY 1
       |), preftop AS MATERIALIZED (
       |  SELECT piece FROM (
       |    SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
       |      SELECT unnest(list_transform(generate_series(2, least(4, length(term))),
       |        l -> substr(term, 1, l))) AS piece, cnt
       |      FROM words WHERE length(term) >= 2
       |    ) GROUP BY 1 ORDER BY n DESC, piece LIMIT 300
       |  )
       |), conttop AS MATERIALIZED (
       |  SELECT piece FROM (
       |    SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
       |      SELECT unnest(flatten(list_transform(generate_series(2, length(term) - 1),
       |        p -> list_transform(generate_series(2, least(4, length(term) - p + 1)),
       |             l -> substr(term, p, l))))) AS piece, cnt
       |      FROM words WHERE length(term) >= 3
       |    ) GROUP BY 1 ORDER BY n DESC, piece LIMIT 300
       |  )
       |), vinit AS MATERIALIZED (
       |  SELECT piece FROM preftop
       |  UNION
       |  SELECT DISTINCT substr(term, 1, 1) FROM words
       |), vcont AS MATERIALIZED (
       |  SELECT piece FROM conttop
       |  UNION
       |  SELECT DISTINCT unnest(list_transform(generate_series(2, length(term)),
       |    p -> substr(term, p, 1))) FROM words WHERE length(term) >= 2
       |), seg AS (
       |  SELECT term, cnt, 1 AS pos, CAST(NULL AS VARCHAR) AS piece FROM words
       |  UNION ALL
       |  SELECT term, cnt, pos + pick,
       |    CASE WHEN pos = 1 THEN substr(term, pos, pick)
       |         ELSE '##' || substr(term, pos, pick) END
       |  FROM (
       |    SELECT term, cnt, pos,
       |      CASE WHEN ${inV(4)} THEN 4
       |           WHEN ${inV(3)} THEN 3
       |           WHEN ${inV(2)} THEN 2
       |           ELSE 1 END AS pick
       |    FROM seg WHERE pos <= length(term)
       |  )
       |)
       |SELECT piece,
       |  CASE WHEN piece LIKE '##%' THEN 1 ELSE 0 END AS is_cont,
       |  CAST(sum(cnt) AS BIGINT) AS n_occ
       |FROM seg WHERE piece IS NOT NULL
       |GROUP BY 1, 2 ORDER BY piece""".stripMargin
  }

  /** SCRIPT-MIX / ENCODING-QA census per corpus language — the triage
    * pass that catches mislabeled language tags, mojibake and
    * copy-paste script mixing before a tokenizer ever sees the text:
    * per document, exact counts of Latin letters, CJK ideographs
    * (U+4E00–U+9FFF) and ASCII digits via the length-difference idiom
    * (len(text) − len(text with class stripped) — one codegen'd regexp
    * per class, no per-char explode, so the scan stays map-side where
    * [[charDiversity]]'s per-char histogram shuffles), rolled up per
    * lang tag: how many docs contain CJK at all, how many MIX Latin
    * and CJK in one document (the mislabel/mojibake flag a language
    *-ID audit reads first), and the corpus-exact char totals with one
    * rounded Latin fraction. DuckDB parity traps, handled: its
    * regexp_replace needs the explicit 'g' flag (first-match-only by
    * default, unlike Spark), and its regex takes \\x{4e00} where
    * Java takes the raw char range. */
  def scriptProfile(s: SparkSession, d: String): DataFrame = {
    def cnt(cls: String) =
      (length(col("text")) - length(regexp_replace(col("text"), cls, ""))).cast("long")
    Tables.documents(s, d)
      .select(col("lang"), length(col("text")).cast("long").as("n_chars"),
        cnt("[A-Za-z]").as("latin"),
        cnt("[一-鿿]").as("cjk"),
        cnt("[0-9]").as("digit"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cjk") > 0, 1L).otherwise(0L)).as("docs_cjk"),
        sum(when(col("cjk") > 0 && col("latin") > 0, 1L).otherwise(0L)).as("docs_mixed"),
        sum("latin").as("latin_chars"),
        sum("cjk").as("cjk_chars"),
        sum("digit").as("digit_chars"),
        sum("n_chars").as("total_chars"))
      .withColumn("latin_frac",
        ExactRound.r(col("latin_chars").cast("double") / col("total_chars"), 6))
      .orderBy("lang")
  }

  /** SQL twin: same length-difference counting, 'g' flag spelled out. */
  val scriptProfileSql: String =
    s"""WITH per AS (
       |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin,
       |    CAST(length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS cjk,
       |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit
       |  FROM documents
       |)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN cjk > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_cjk,
       |  CAST(sum(CASE WHEN cjk > 0 AND latin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_mixed,
       |  CAST(sum(latin) AS BIGINT) AS latin_chars,
       |  CAST(sum(cjk) AS BIGINT) AS cjk_chars,
       |  CAST(sum(digit) AS BIGINT) AS digit_chars,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  ${ExactRound.rSql("CAST(sum(latin) AS DOUBLE) / sum(n_chars)", 6)} AS latin_frac
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** Fixed RAKE stopword list (phrase breakers) — tiny by design: the
    * algorithm's quality comes from the degree/frequency ratio, not the
    * list, and a short explicit list keeps the oracle twin literal. */
  private val rakeStop: Seq[String] = Seq(
    "the", "of", "and", "a", "an", "in", "to", "is", "it", "that", "this",
    "with", "for", "as", "on", "are", "be", "by", "or", "at", "from",
    "was", "were", "not", "but")

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010) — the unsupervised
    * keyphrase pass a corpus-curation pipeline runs to label shards by
    * topic: candidate phrases are maximal token runs broken at
    * punctuation AND stopwords; each word scores degree/frequency
    * (degree = the summed size of every phrase it appears in — words
    * that live in long phrases beat words that appear alone), and a
    * phrase scores the sum of its member words. Plan shape: one
    * punctuation explode + one in-segment token explode (map-side), a
    * per-(doc, segment) running stopword count (the gaps-and-islands
    * window — phrases fall out of the group key, no self-join), one
    * global word aggregate, one join back, one phrase aggregate, TopK.
    * Nothing driver-side; the only global structure is the word score
    * table, which shuffles by word exactly once. Numerics: word score
    * = round(10⁶·deg/freq) held as INTEGER micros so the phrase score
    * is an order-free long sum — the engine's exact-float discipline
    * (a double sum of ratios would be accumulation-order-dependent).
    * Output: top 15 phrases by (score, text) with occurrence and width
    * census. */
  def rake(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9 ]+")).as(Seq("seg_pos", "seg")))
      .select(col("doc_id"), col("seg_pos"),
        posexplode(split(col("seg"), " +")).as(Seq("tok_pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("is_stop", col("w").isInCollection(rakeStop))
    val runWin = Window.partitionBy("doc_id", "seg_pos").orderBy("tok_pos")
    val phraseWin = Window.partitionBy("doc_id", "seg_pos", "brk")
    val words = toks
      .withColumn("brk", sum(when(col("is_stop"), 1L).otherwise(0L)).over(runWin))
      .filter(!col("is_stop"))
      .withColumn("psize", count(lit(1)).over(phraseWin))
    val scores = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("psize").as("deg"))
      .select(col("w"),
        round(col("deg") * lit(1000000.0) / col("freq")).cast("long").as("score_m"))
    words.join(scores, "w")
      .groupBy("doc_id", "seg_pos", "brk")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tok_pos"), col("w")))),
          x => x.getField("w"))).as("phrase"),
        sum("score_m").as("sm"), count(lit(1)).as("nw"))
      .groupBy("phrase")
      .agg(max("sm").as("score_micros"), max("nw").as("n_words"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("score_micros").desc, col("phrase"))
      .limit(15)
  }

  /** SQL twin: identical segmentation (1-based list positions shift the
    * internal keys by a constant — grouping and ordering are
    * unaffected), running stopword count, micros word scores, long
    * phrase sums. */
  val rakeSql: String = {
    val stopList = rakeStop.map(w => s"'$w'").mkString(", ")
    s"""WITH segs AS (
       |  SELECT doc_id, u.seg_pos AS seg_pos, u.seg AS seg FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      string_split_regex(lower(text), '[^a-z0-9 ]+'),
       |      (x, i) -> struct_pack(seg_pos := i, seg := x))) AS u
       |    FROM documents)
       |), toks AS (
       |  SELECT doc_id, seg_pos, t.tok_pos AS tok_pos, t.w AS w,
       |    t.w IN ($stopList) AS is_stop
       |  FROM (
       |    SELECT doc_id, seg_pos, unnest(list_transform(
       |      string_split_regex(seg, ' +'),
       |      (x, i) -> struct_pack(tok_pos := i, w := x))) AS t
       |    FROM segs)
       |  WHERE t.w <> ''
       |), runs AS (
       |  SELECT doc_id, seg_pos, tok_pos, w, is_stop,
       |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id, seg_pos ORDER BY tok_pos) AS brk
       |  FROM toks
       |), words AS (
       |  SELECT doc_id, seg_pos, brk, tok_pos, w,
       |    count(*) OVER (PARTITION BY doc_id, seg_pos, brk) AS psize
       |  FROM runs WHERE NOT is_stop
       |), scores AS (
       |  SELECT w, CAST(round(sum(psize) * 1000000.0 / count(*)) AS BIGINT) AS score_m
       |  FROM words GROUP BY w
       |), phrases AS (
       |  SELECT array_to_string(list(words.w ORDER BY tok_pos), ' ') AS phrase,
       |    CAST(sum(score_m) AS BIGINT) AS sm, count(*) AS nw
       |  FROM words JOIN scores ON words.w = scores.w
       |  GROUP BY doc_id, seg_pos, brk
       |)
       |SELECT phrase, CAST(max(sm) AS BIGINT) AS score_micros,
       |  CAST(max(nw) AS BIGINT) AS n_words,
       |  CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM phrases GROUP BY phrase
       |ORDER BY score_micros DESC, phrase LIMIT 15""".stripMargin
  }

  /** UNIGRAM-LM (SentencePiece-style) tokenizer trainer — the third
    * tokenizer family in production use beside BPE ([[bpeTrain]]) and
    * WordPiece ([[wordpiece]]): seed a substring inventory from the
    * term table, then EM — E-step Viterbi-segments every DISTINCT term
    * against the current piece scores, M-step re-scores pieces from
    * realized usage and PRUNES the inventory (SentencePiece's
    * vocabulary-shrink step) — two rounds. The corpus enters ONLY via
    * term counts (the [[bpeTrain]] discipline): every join/DP below is
    * vocabulary-sized, nothing corpus-sized crosses a shuffle, and the
    * piece inventory is bounded (≤ 300 multi-char + alphabet) so it
    * broadcasts.
    *
    * Objective (pinned): textbook unigram-LM Viterbi maximizes the
    * product of piece probabilities, whose cross-engine replay would
    * inherit each engine's libm `ln` (the engine-wide no-log
    * discipline — see [[bigramRatio]]). The engine instead pins the
    * integer-exact lexicographic surrogate (FEWEST pieces, then MAX
    * summed integer piece score, then lexicographically smallest
    * segmentation): fewest-pieces is the dominant term of the
    * probability product (every extra piece multiplies by p ≪ 1), the
    * score sum orders within a piece-count class, and the lex tail
    * makes the optimum UNIQUE — which is what lets DuckDB replay the
    * identical segmentation. The DP prunes to the single best partial
    * per (term, pos) each round — EXACT for this objective: suffix
    * cost is prefix-independent, lower k always dominates, and
    * equal-(pos, k) seg strings have equal length so the lex
    * tie-break is preserved under common-suffix append.
    *
    * Trainer scope is pinned to ASCII terms of ≤ 12 chars (the
    * max_sentencepiece_length discipline, and the byte-vs-codepoint
    * parity rule: JVM substring walks UTF-16 units, DuckDB substr
    * walks codepoints — ASCII makes them the same walk). */
  def unigramLm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.parallelize(Tables.documents(s, d))
      .select(explode(Tokens.words(col("text"))).as("term"))
      .filter(col("term").rlike("^[!-~]{1,12}$"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // seed: every substring of length 1..4 of every distinct term,
    // frequency-weighted by term count (overlapping occurrences count)
    val subs = words.select(col("cnt"), explode(expr(
        """flatten(transform(sequence(1, length(term)),
          |  p -> transform(sequence(p, least(p + 3, length(term))),
          |       q -> substring(term, p, q - p + 1))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val chars1 = subs.filter(length(col("piece")) === 1)
    val top300 = subs.filter(length(col("piece")) >= 2)
      .orderBy(desc("f"), col("piece")).limit(300)
    val inv1 = chars1.unionByName(top300)

    // Viterbi over the BROADCAST piece table, one mapPartitions pass:
    // the DP is per-term independent and the inventory is bounded by
    // construction (≤ 300 multi-char + alphabet — the [[wordpiece]]
    // collect bound), so segmentation is a per-partition scan over the
    // distributed term table, not an iterative distributed job (a
    // round-per-position DataFrame DP measured ~50 scheduled jobs for
    // vocabulary-sized data). Per position the DP keeps the single
    // best (k asc, score desc, seg asc) partial — exact for the
    // lexicographic objective (see the operator scaladoc).
    def viterbi(inventory: DataFrame): DataFrame = {
      val pieces: Map[String, Long] = inventory.select("piece", "f").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = s.sparkContext.broadcast(pieces)
      val session = s
      import session.implicits._
      words.select(col("term"), col("cnt")).as[(String, Long)]
        .mapPartitions { it =>
          val inv = bc.value
          it.map { case (term, cnt) =>
            val n = term.length
            // best(i) = (pieces, score, seg) for term[0, i), null if unreachable
            val best = new Array[(Long, Long, String)](n + 1)
            best(0) = (0L, 0L, "")
            var i = 1
            while (i <= n) {
              var bk = Long.MaxValue; var bs = Long.MinValue; var bg: String = null
              var l = 1
              while (l <= 4 && l <= i) {
                val start = i - l
                if (best(start) != null) {
                  val p = term.substring(start, i)
                  inv.get(p) match {
                    case Some(sc) =>
                      val (k0, s0, g0) = best(start)
                      val k = k0 + 1; val sN = s0 + sc
                      val g = if (g0.isEmpty) p else g0 + " " + p
                      if (k < bk || (k == bk && (sN > bs ||
                          (sN == bs && (bg == null || g < bg))))) {
                        bk = k; bs = sN; bg = g
                      }
                    case None => ()
                  }
                }
                l += 1
              }
              if (bg != null) best(i) = (bk, bs, bg)
              i += 1
            }
            (term, cnt, if (best(n) == null) "" else best(n)._3)
          }
        }
        .toDF("term", "cnt", "seg")
        .filter(col("seg") =!= "")
    }
    def usage(seg: DataFrame): DataFrame =
      seg.select(col("cnt"), explode(split(col("seg"), " ")).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("u"))

    val u1 = usage(viterbi(inv1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // M-step prune: keep the 200 most-used pieces, plus every single
    // char (coverage: any term stays segmentable), re-scored by usage
    val kept = u1.orderBy(desc("u"), col("piece")).limit(200)
    val charsAll = chars1.select(col("piece")).join(u1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u"), lit(0L)).as("u"))
    val inv2 = kept.unionByName(charsAll).groupBy("piece").agg(max("u").as("f"))
    val u2 = usage(viterbi(inv2))
    val totDf = u2.agg(sum("u").as("tot"))
    // unpartitioned rank window, bounded: ~200 learned pieces plus the
    // corpus's single characters
    u2.crossJoin(broadcast(totDf))
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("u").as("n_uses"), expr("(1000000 * u) div tot").as("p_us"))
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("n_uses"), col("piece"))).cast("long"))
      .select("rank", "piece", "piece_len", "n_uses", "p_us")
      .orderBy("rank")
  }

  /** SQL twin: the identical seed/EM/Viterbi pipeline with both DP
    * rounds unrolled to the 12-position budget (terms are capped at 12
    * chars, pieces are ≥ 1 char, so 12 rounds dominate any term). */
  val unigramLmSql: String = {
    def viterbiCtes(tag: String, inv: String): String = {
      val rounds = (1 to 12).map { r =>
        s"""vb${tag}e_$r AS (
           |  SELECT term, cnt, pos, k, score, seg,
           |    unnest(generate_series(pos, least(pos + 3, length(term)))) AS q
           |  FROM vb${tag}_${r - 1} WHERE pos <= length(term)
           |), vb${tag}_$r AS MATERIALIZED (
           |  SELECT term, cnt, pos, k, score, seg FROM (
           |    SELECT e.term, e.cnt, e.pos + length(i.piece) AS pos,
           |      e.k + 1 AS k, e.score + i.f AS score,
           |      CASE WHEN e.seg = '' THEN i.piece
           |           ELSE e.seg || ' ' || i.piece END AS seg,
           |      row_number() OVER (PARTITION BY e.term, e.pos + length(i.piece)
           |        ORDER BY e.k + 1, e.score + i.f DESC,
           |          CASE WHEN e.seg = '' THEN i.piece
           |               ELSE e.seg || ' ' || i.piece END) AS rn
           |    FROM (SELECT term, cnt, pos, k, score, seg,
           |            substr(term, pos, q - pos + 1) AS piece
           |          FROM vb${tag}e_$r) e
           |    JOIN $inv i USING (piece)
           |  ) WHERE rn = 1
           |)""".stripMargin
      }.mkString(", ")
      val doneUnion = (1 to 12)
        .map(r => s"SELECT term, cnt, k, score, seg FROM vb${tag}_$r WHERE pos > length(term)")
        .mkString(" UNION ALL ")
      s"""vb${tag}_0 AS (
         |  SELECT term, cnt, 1 AS pos, CAST(0 AS BIGINT) AS k,
         |    CAST(0 AS BIGINT) AS score, '' AS seg FROM words
         |), $rounds, seg$tag AS MATERIALIZED (
         |  SELECT term, cnt, seg FROM (
         |    SELECT term, cnt, seg,
         |      row_number() OVER (PARTITION BY term ORDER BY k, score DESC, seg) AS rn
         |    FROM ($doneUnion)
         |  ) WHERE rn = 1
         |), u$tag AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS u
         |  FROM (SELECT cnt, unnest(string_split(seg, ' ')) AS piece FROM seg$tag)
         |  GROUP BY 1
         |)""".stripMargin
    }
    s"""WITH words AS MATERIALIZED (
       |  SELECT w AS term, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(${OracleCtes.wordsSql("text")}) AS w
       |    FROM documents)
       |  WHERE regexp_matches(w, '^[!-~]{1,12}$$')
       |  GROUP BY w
       |), subs0 AS (
       |  SELECT term, cnt, unnest(generate_series(1, length(term))) AS p FROM words
       |), subs1 AS (
       |  SELECT term, cnt, p,
       |    unnest(generate_series(p, least(p + 3, length(term)))) AS q
       |  FROM subs0
       |), subs AS MATERIALIZED (
       |  SELECT substr(term, p, q - p + 1) AS piece, CAST(sum(cnt) AS BIGINT) AS f
       |  FROM subs1 GROUP BY 1
       |), chars1 AS (SELECT piece, f FROM subs WHERE length(piece) = 1
       |), top300 AS (
       |  SELECT piece, f FROM subs WHERE length(piece) >= 2
       |  ORDER BY f DESC, piece LIMIT 300
       |), inv1 AS MATERIALIZED (
       |  SELECT * FROM chars1 UNION ALL SELECT * FROM top300
       |), ${viterbiCtes("1", "inv1")},
       |kept AS (SELECT piece, u FROM u1 ORDER BY u DESC, piece LIMIT 200),
       |charsall AS (
       |  SELECT c.piece, coalesce(u1.u, 0) AS u FROM chars1 c LEFT JOIN u1 USING (piece)
       |), inv2 AS MATERIALIZED (
       |  SELECT piece, CAST(max(u) AS BIGINT) AS f
       |  FROM (SELECT * FROM kept UNION ALL SELECT * FROM charsall) GROUP BY piece
       |), ${viterbiCtes("2", "inv2")}
       |SELECT row_number() OVER (ORDER BY u DESC, piece) AS rank, piece,
       |  CAST(length(piece) AS BIGINT) AS piece_len, u AS n_uses,
       |  CAST((1000000 * u) // (SELECT sum(u) FROM u2) AS BIGINT) AS p_us
       |FROM u2
       |ORDER BY rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_unigram_lm" -> (unigramLm _),
    "t_rake" -> (rake _),
    "t_script_profile" -> (scriptProfile _),
    "t_fertility" -> (fertility _),
    "t_wordpiece" -> (wordpiece _),
    "t_cdc_minhash" -> (cdcMinhash _),
    "t_unicode_norm" -> (unicodeNorm _),
    "t_skipgram_pairs" -> (skipgramPairs _),
    "t_code_detect" -> (codeDetect _),
    "t_bpe_apply" -> (bpeApply _),
    "t_bpe_train" -> (bpeTrain _),
    "t_lm_score" -> (lmScore _),
    "t_typo_pairs" -> (typoPairs _),
    "t_bpe_pairs" -> (bpePairs _),
    "t_bigram_lm" -> (bigramLm _),
    "t_bm25" -> (bm25 _),
    "t_template_sentences" -> (templateSentences _),
    "t_vocab_overlap" -> (vocabOverlap _),
    "t_langid_eval" -> (langidEval _),
    "t_zipf" -> (zipf _),
    "t_readability" -> (readability _),
    "t_sentences" -> (sentences _),
    "t_ttr" -> (ttr _),
    "t_char_diversity" -> (charDiversity _),
    "t_kwic" -> (kwic _),
    "t_scrub" -> (scrub _),
    "t_html_strip" -> (htmlStrip _),
    "t_dup_ngrams" -> (dupNgrams _),
    "t_span_dedup" -> (spanDedup _),
    "t_novelty" -> (novelty _),
    "t_token_gini" -> (tokenGini _),
    "t_repetition" -> (repetition _),
    "t_bigram_ratio" -> (bigramRatio _),
    "t_tfidf" -> (tfidf _),
    "t_chunk" -> (chunk _),
    "t_contentfilter" -> (contentFilter _),
    "t_ngram_freq" -> (ngramFreq _),
    "t_ngram_release" -> (ngramRelease _),
    "t_collocations" -> (collocations _),
    "t_token_stats" -> (tokenStats _),
    "t_langid" -> (langid _),
    "t_quality" -> (quality _),
    "t_fingerprint" -> (fingerprint _))

  val oracles: Map[String, String] = Map(
    "t_unigram_lm" -> unigramLmSql,
    "t_rake" -> rakeSql,
    "t_script_profile" -> scriptProfileSql,
    "t_fertility" -> fertilitySql,
    "t_unicode_norm" -> unicodeNormSql,
    "t_skipgram_pairs" -> skipgramPairsSql,
    "t_code_detect" -> codeDetectSql,
    "t_bpe_apply" -> bpeApplySql,
    "t_bpe_train" -> bpeTrainSql,
    "t_lm_score" -> lmScoreSql,
    "t_typo_pairs" -> typoPairsSql,
    "t_bpe_pairs" -> bpePairsSql,
    "t_bigram_lm" -> bigramLmSql,
    "t_bm25" -> bm25Sql,
    "t_template_sentences" -> templateSentencesSql,
    "t_vocab_overlap" -> vocabOverlapSql,
    "t_langid_eval" -> langidEvalSql,
    "t_zipf" -> zipfSql,
    "t_readability" -> readabilitySql,
    "t_sentences" -> sentencesSql,
    "t_ttr" -> ttrSql,
    "t_char_diversity" -> charDiversitySql,
    "t_kwic" -> kwicSql,
    "t_scrub" -> scrubSql,
    "t_html_strip" -> htmlStripSql,
    "t_dup_ngrams" -> dupNgramsSql,
    "t_span_dedup" -> spanDedupSql,
    "t_novelty" -> noveltySql,
    "t_token_gini" -> tokenGiniSql,
    "t_repetition" -> repetitionSql,
    "t_bigram_ratio" -> bigramRatioSql,
    "t_tfidf" -> tfidfSql,
    "t_chunk" -> chunkSql,
    "t_contentfilter" -> contentFilterSql,
    "t_ngram_freq" -> ngramFreqSql,
    "t_ngram_release" -> ngramReleaseSql,
    "t_collocations" -> collocationsSql,
    "t_token_stats" -> tokenStatsSql,
    "t_langid" -> langidSql,
    "t_quality" -> qualitySql,
    "t_fingerprint" -> fingerprintSql,
    "t_cdc_minhash" -> cdcMinhashSql,
    "t_wordpiece" -> wordpieceSql)
}
