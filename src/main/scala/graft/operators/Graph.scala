package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over pair graphs (SURVEY.md §2D adjunct):
  * PageRank over the near-dup graph — "which documents sit at the center
  * of a duplication cluster" — with the same per-round eager
  * `localCheckpoint` discipline as [[Dedup.connectedComponents]] (the
  * round-2 lesson: iterative self-joins double the logical plan per
  * round unless each round truncates to a materialized leaf).
  *
  * Every quantity is an INTEGER (rank in micros, exact integer division
  * by degree, damping 0.85 as ·17 div 20): long sums are
  * accumulation-order-free, so the result is bit-identical across
  * engines, partitionings and cluster sizes — no floating-point
  * PageRank ever is. The ~1-micro-per-op downward rounding loss is the
  * price, identical on both sides of the oracle.
  */
object Graph {

  /** The co-partitioned edge list every RDD graph loop iterates on
    * ([[pagerankLoop]], [[bfsLoop]], [[Dedup.connectedComponents]]):
    * the first two columns of `pairsDf` cast to long and materialized
    * once (`localCheckpoint`), symmetrized to both directions and
    * hash-partitioned ONCE. Rounds then join against these stationary
    * blocks narrowly on the edge side — only the per-node state moves —
    * with no per-round Catalyst/AQE planning. The fan-out follows EDGE
    * VOLUME ([[graft.GraftConf.partitionsForEdges]]), capped by the
    * pair table's own width, not the upstream scan width: a small graph
    * stays in a few partitions (over-partitioning is what makes an
    * iteration scheduling-bound), a 100 TB pair graph fans out to
    * thousands. Returns the (unpersisted) edges and their partitioner. */
  private[graft] def coPartitionedEdges(pairsDf: DataFrame)
      : (org.apache.spark.rdd.RDD[(Long, Long)], org.apache.spark.HashPartitioner) = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    val cols = pairsDf.columns
    val pairs = pairsDf.select(col(cols(0)).cast("long"), col(cols(1)).cast("long"))
      .localCheckpoint() // keep: reuse
    val prs = pairs.as[(Long, Long)].rdd
    val partitioner = new org.apache.spark.HashPartitioner(
      graft.GraftConf.partitionsForEdges(pairs.count(), prs.getNumPartitions))
    (prs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }.partitionBy(partitioner),
      partitioner)
  }

  /** Both directions of every (a, b) pair as (src, dst) — the undirected
    * edge frame of the DataFrame graph operators. */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))

  /** `iters` rounds of damped PageRank (d = 0.85) with restart to the
    * seed set S = {v : isSeed(v)} over the UNDIRECTED pair graph:
    * r₀(v) = ⌊10⁶/|S|⌋ on seeds, else 0; rₜ₊₁(v) = t(v) +
    * ⌊17·Σ_{u~v}⌊rₜ(u)/deg(u)⌋ / 20⌋ with teleport t(v) = ⌊0.15·10⁶/|S|⌋
    * on seeds, else 0. Every node a seed (the default) is global
    * PageRank (|S| = N); a proper subset is personalized PageRank.
    * Per round: one join of the stationary degree-annotated edge list
    * ([[coPartitionedEdges]]) against the rank table + one partial-agg
    * shuffle — the standard Pregel-style formulation, never
    * materializing anything wider than (node, rank). With a fixed
    * small iteration count the lineage stays shallow, so no per-round
    * checkpoint is needed.
    *
    * `residualEpsMicros ≥ 0` arms an early stop: after each round the
    * max per-node rank change (exact integer micros — same arithmetic as
    * the ranks, so the probe is as bit-portable as the result) is
    * compared against ε and the loop stops once it is ≤ ε, with `iters`
    * as the round CAP. This is the 100 TB mode — a fixed count either
    * over-iterates (wasted rounds on an easy graph) or under-iterates
    * (unconverged ranks on a deep one); the probe costs one narrow
    * co-partitioned join + max-fold per round and doubles as the
    * checkpoint materializer. Damping contracts the transient by ~17/20
    * per round, but the integer floors do NOT reach an exact fixpoint —
    * low-degree boundary nodes settle into a small limit cycle (measured
    * amplitude 4 micros on a 200-node chain), so ε = 0 never fires; pick
    * ε at the few-micros level, and the returned ranks are within ~ε of
    * any longer run (spec-pinned: ε = 4 on the 200-chain stops at round
    * ~30 of a 150 cap, every rank within 1 micro of the round-150
    * state). g_pagerank and g_ppr keep the fixed 5-round form (ε
    * disabled): their oracles unroll exactly 5 rounds, and round count
    * is part of that contract. */
  private[graft] def pagerankLoop(pairsDf: DataFrame, iters: Int,
      residualEpsMicros: Long = -1L, isSeed: Long => Boolean = _ => true): DataFrame =
    pagerankLoopWithRounds(pairsDf, iters, residualEpsMicros, isSeed)._1

  /** [[pagerankLoop]] plus the number of rounds actually run — the probe's
    * effect is observable (and spec-pinned) through the count. */
  private[graft] def pagerankLoopWithRounds(pairsDf: DataFrame, iters: Int,
      residualEpsMicros: Long = -1L, isSeed: Long => Boolean = _ => true): (DataFrame, Int) = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    val (edges, partitioner) = coPartitionedEdges(pairsDf)
    val deg = edges.mapValues(_ => 1L).reduceByKey(partitioner, _ + _)
    // (src, (dst, deg)) materialized once: every round re-reads these blocks
    val ewd = edges.join(deg, partitioner)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // each node carries its seed flag, so the per-round update is a
    // mapValues that keeps the rank table on the edge partitioner
    val nodes = deg.mapPartitions(_.map { case (id, _) => (id, isSeed(id)) },
        preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val nSeeds = nodes.filter(_._2).count()
    require(nSeeds > 0, "pagerank needs a non-empty seed set")
    val teleport = nodes.mapValues(seed => if (seed) 150000L / nSeeds else 0L)
    var r = nodes.mapValues(seed => if (seed) 1000000L / nSeeds else 0L)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val contrib = ewd.join(r, partitioner)
        .map { case (_, ((dst, dg), rank)) => (dst, rank / dg) }
        .reduceByKey(partitioner, _ + _)
      val next = teleport.leftOuterJoin(contrib, partitioner)
        .mapValues { case (t, c) => t + c.getOrElse(0L) * 17 / 20 }
      if (residualEpsMicros >= 0L) {
        // lazy checkpoint + probe (the CC-loop discipline): the residual
        // fold is the one job per round — it materializes the checkpoint
        // (truncating lineage, which matters once rounds are unbounded)
        // and computes max |r_{t+1} − r_t| in the same pass
        next.localCheckpoint() // keep: round
        val maxResid = next.join(r, partitioner)
          .map { case (_, (nr, or)) => math.abs(nr - or) }
          .fold(0L)(math.max)
        converged = maxResid <= residualEpsMicros
      }
      r = next
      it += 1
    }
    // materialize BEFORE dropping the edge blocks: the rank lineage
    // reaches back through every round's ewd join
    val result = r.toDF("id", "r").localCheckpoint() // keep: outlives
    ewd.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    (result, it)
  }

  /** Driver query: 5 PageRank rounds over the exact 3-gram-Jaccard
    * near-dup graph (the same edges [[Dedup.dupClusters]] clusters). */
  def pagerank(s: SparkSession, d: String): DataFrame =
    pagerankLoop(Dedup.ngramJaccard(s, d).select("doc_a", "doc_b"), iters = 5)
      .select(col("id").as("doc_id"), col("r").as("pr_micros"))
      .orderBy("doc_id")

  /** SQL twin: same pair graph, 5 unrolled iterations of the identical
    * integer recurrence (DuckDB `//` = Spark `div` on non-negative
    * BIGINT). */
  val pagerankSql: String = {
    // every member MATERIALIZED: DuckDB re-evaluates plain CTEs per
    // reference, and each unrolled round references its predecessor
    // twice — without the hint the pair build re-ran combinatorially
    // (see OracleCtes for the round-4 sweep-cost story)
    val iterations = (1 to 5).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT e.dst AS id, sum(t${k - 1}.r // d.deg) AS contrib
         |  FROM edges e JOIN t${k - 1} ON e.src = t${k - 1}.id JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst
         |), t$k AS MATERIALIZED (
         |  SELECT nd.id, (150000 // nc.n) + (coalesce(c.contrib, 0) * 17) // 20 AS r
         |  FROM nodes nd LEFT JOIN c$k c USING (id), nc
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), nodes AS MATERIALIZED (
       |  SELECT src AS id FROM deg
       |), nc AS MATERIALIZED (
       |  SELECT count(*) AS n FROM nodes
       |), t0 AS MATERIALIZED (
       |  SELECT id, 1000000 // nc.n AS r FROM nodes, nc
       |), $iterations
       |SELECT id AS doc_id, CAST(r AS BIGINT) AS pr_micros
       |FROM t5 ORDER BY doc_id""".stripMargin
  }

  /** Per-node triangle counts over the near-dup graph — triangles mark
    * tightly-knit duplication cliques (every pair similar), a stronger
    * signal than mere connectivity. Degree-ordered orientation (edge
    * points from (deg, id)-smaller to larger endpoint), the standard
    * hub-safe formulation: wedges are enumerated only at each edge's
    * LOWER-degree endpoint, so a degree-D hub generates O(sum of its
    * lower-degree neighbors') wedge pairs instead of O(D²) — the
    * difference between feasible and not on a power-law graph at 100 TB.
    * Each triangle has exactly one source-of-both-oriented-edges vertex,
    * so the wedge ⋈ oriented-edge join counts it exactly once. */
  /** Per-node (id, deg, n_tri) over the n-gram near-dup graph — the
    * shared degree-ordered wedge enumeration behind [[triangles]] and
    * [[clustCoef]]. */
  private def triangleCounts(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint() // keep: reuse
    // deg feeds the orientation build twice plus the final join, and the
    // oriented edge list e feeds FOUR consumers (wedge self-join twice,
    // closing union twice) — materialize both once instead of replaying
    // the pair scan + degree shuffle per consumer (measured: clustcoef
    // 10.6 s → ~3 s; at 100 TB this is a persisted edge table, the same
    // stationary-edge-list discipline the iterative loops use)
    val deg = pairs.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // keep: reuse
    val e = pairs
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint() // keep: reuse
    val wedges = e.join(e.select(col("u"), col("v").as("w")), "u")
      .filter(col("v") < col("w"))
    // {v,w} closes the triangle in exactly one orientation; probing both
    // keeps the wedge enumeration free of per-pair orientation checks
    val closing = e.select(col("u").as("v"), col("v").as("w"))
      .union(e.select(col("v").as("v"), col("u").as("w")))
    val tri = wedges.join(closing, Seq("v", "w"))
    val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("c"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("c"), lit(0L)).as("n_tri"))
  }

  def triangles(s: SparkSession, d: String): DataFrame =
    triangleCounts(s, d)
      .select(col("id").as("doc_id"), col("n_tri").as("n_triangles"))
      .orderBy("doc_id")

  /** Per-node local clustering coefficient 2·T(v)/(deg(v)·(deg(v)−1))
    * over the near-dup graph — "is this doc's duplication neighborhood a
    * clique (one tight template family) or a star (a hub stitching
    * unrelated docs)?". Near-1 coefficients confirm clean cluster
    * structure; low-coefficient high-degree nodes are the bridge docs
    * that make single-linkage dedup over-merge, exactly the ones to
    * inspect before canonicalizing at 100 TB. Same O(Σ deg²)
    * wedge-enumeration envelope as [[triangles]]; the coefficient is one
    * IEEE division per node, rounded. */
  def clustCoef(s: SparkSession, d: String): DataFrame =
    triangleCounts(s, d)
      .select(col("id").as("doc_id"), col("deg").as("degree"),
        col("n_tri").as("n_triangles"),
        when(col("deg") >= 2,
          ExactRound.r(lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clust_coef"))
      .orderBy("doc_id")

  /** SQL twin of [[triangles]] on the same pair graph. */
  /** Shared WITH-prefix (docs → pairs → deg → e → wedges → closing →
    * tri → pernode) for the triangle-family oracles. */
  private val triangleCoreSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, deg AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT pa AS id FROM pairs UNION ALL SELECT pb FROM pairs
       |  ) GROUP BY id
       |), e AS MATERIALIZED (
       |  SELECT CASE WHEN (da.deg, p.pa) < (db.deg, p.pb) THEN p.pa ELSE p.pb END AS u,
       |         CASE WHEN (da.deg, p.pa) < (db.deg, p.pb) THEN p.pb ELSE p.pa END AS v
       |  FROM pairs p JOIN deg da ON da.id = p.pa JOIN deg db ON db.id = p.pb
       |), wedges AS MATERIALIZED (
       |  SELECT e1.u, e1.v, e2.v AS w
       |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
       |), closing AS MATERIALIZED (
       |  SELECT u AS v, v AS w FROM e UNION ALL SELECT v, u FROM e
       |), tri AS MATERIALIZED (
       |  SELECT wg.u, wg.v, wg.w FROM wedges wg JOIN closing c ON wg.v = c.v AND wg.w = c.w
       |), pernode AS MATERIALIZED (
       |  SELECT id, count(*) AS c FROM (
       |    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
       |  ) GROUP BY id
       |)""".stripMargin

  val trianglesSql: String =
    s"""$triangleCoreSql
       |SELECT d.id AS doc_id, coalesce(p.c, 0) AS n_triangles
       |FROM deg d LEFT JOIN pernode p USING (id)
       |ORDER BY doc_id""".stripMargin

  /** SQL twin of [[clustCoef]]: identical wedge core, one rounded IEEE
    * division per node. */
  val clustCoefSql: String =
    s"""$triangleCoreSql
       |SELECT d.id AS doc_id, d.deg AS degree, coalesce(p.c, 0) AS n_triangles,
       |  CASE WHEN d.deg >= 2 THEN ${ExactRound.rSql(
             "2.0 * coalesce(p.c, 0) / (d.deg * (d.deg - 1))", 6)} ELSE 0.0 END AS clust_coef
       |FROM deg d LEFT JOIN pernode p USING (id)
       |ORDER BY doc_id""".stripMargin

  /** Link prediction over the EMBEDDING near-dup graph: for every
    * NON-adjacent pair with ≥1 common neighbor, the common-neighbor
    * count and the resource-allocation index Σ_w 1/deg(w) in integer
    * micros (Zhou'09; integer so the sum is order-free and cross-engine
    * exact) — "these two vectors are probably near-dups the cosine
    * threshold missed". The embedding graph (not the n-gram one, whose
    * dup clusters are cliques with no open wedges to predict) is sparse
    * enough that the prediction is non-trivial. Wedge enumeration at
    * the common neighbor (each center w contributes deg(w)² wedge
    * pairs — the u<v filter halves it), then one left-anti join against
    * the edge list. Same O(Σ deg²) envelope as triangle counting; a
    * production run would cap hub degree first. */
  def linkpred(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.embedDup(s, d)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
      .localCheckpoint() // keep: reuse
    val edges = undirected(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ew = edges.join(deg, "src").select(col("src").as("w"), col("dst").as("u"), col("deg"))
    val cand = ew.join(ew.select(col("w"), col("u").as("v")), "w")
      .filter(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div deg")).as("ra_micros"))
    cand.join(pairs, cand("u") === pairs("a") && cand("v") === pairs("b"), "left_anti")
      .select(col("u").as("vec_a"), col("v").as("vec_b"), col("cn"), col("ra_micros"))
      .orderBy("vec_a", "vec_b")
  }

  /** SQL twin of [[linkpred]] on the same pair graph
    * ([[OracleCtes.embedPairsCtes]] — the shared gate/lift replay). */
  val linkpredSql: String = {
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}, edges AS (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), ew AS (
       |  SELECT e.src AS w, e.dst AS u, d.deg FROM edges e JOIN deg d USING (src)
       |), cand AS (
       |  SELECT e1.u AS u, e2.u AS v, count(*) AS cn,
       |    CAST(sum(1000000 // e1.deg) AS BIGINT) AS ra_micros
       |  FROM ew e1 JOIN ew e2 ON e1.w = e2.w AND e1.u < e2.u
       |  GROUP BY e1.u, e2.u
       |)
       |SELECT u AS vec_a, v AS vec_b, cn, ra_micros FROM cand c
       |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.pa = c.u AND p.pb = c.v)
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Multi-source BFS (distance-to-nearest-seed) over the pair graph in
    * `maxHops` synchronous rounds — the Pregel primitive behind
    * influence radius, contamination blast-radius ("how far does this
    * leaked document's duplication neighborhood reach") and
    * cluster-exemplar assignment. Same co-partitioned-RDD discipline as
    * [[pagerankLoop]]: the edge list is hash-partitioned once and stays
    * stationary; each round is one narrow join + one min-reduce, and
    * with a fixed hop cap the lineage stays shallow with no
    * checkpointing. The relax recurrence (distₖ₊₁ = min(distₖ,
    * min over in-neighbors + 1)) is pure integer math — bit-portable —
    * and equals frontier BFS on unit weights; a production run at 10⁹
    * edges would propagate only the newly-improved frontier per round,
    * an optimization that cannot change the result. */
  private[graft] def bfsLoop(pairsDf: DataFrame, maxHops: Int,
      isSeed: Long => Boolean): DataFrame = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    val (symmetric, partitioner) = coPartitionedEdges(pairsDf)
    val edges = symmetric.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    var dist = edges.mapValues(_ => ()).reduceByKey(partitioner, (a, _) => a)
      .filter { case (id, _) => isSeed(id) }
      .mapValues(_ => 0L)
    var hop = 0
    while (hop < maxHops) {
      val cand = edges.join(dist, partitioner)
        .map { case (_, (dst, dd)) => (dst, dd + 1L) }
      dist = dist.union(cand).reduceByKey(partitioner, (a: Long, b: Long) => math.min(a, b))
      hop += 1
    }
    val out = dist.toDF("id", "dist").localCheckpoint() // keep: outlives
    edges.unpersist(blocking = false)
    out
  }

  /** Driver query: hop distance from the doc_id%10==0 exemplars over the
    * exact 3-gram-Jaccard near-dup graph, 6 hops (graph diameters here
    * are far below that, so this IS the full closure). */
  def bfs(s: SparkSession, d: String): DataFrame =
    bfsLoop(Dedup.ngramJaccard(s, d).select("doc_a", "doc_b"), maxHops = 6,
      isSeed = _ % 10 == 0)
      .select(col("id").as("doc_id"), col("dist").as("n_hops"))
      .orderBy("doc_id")

  /** SQL twin: same pair graph, 6 unrolled rounds of the identical
    * min-relax recurrence. */
  val bfsSql: String = {
    val iterations = (1 to 6).map { k =>
      s"""t$k AS MATERIALIZED (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM t${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, t${k - 1}.dist + 1 AS dist
         |    FROM edges e JOIN t${k - 1} ON e.src = t${k - 1}.id
         |  ) GROUP BY id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), t0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dist FROM edges WHERE src % 10 = 0
       |), $iterations
       |SELECT id AS doc_id, CAST(dist AS BIGINT) AS n_hops
       |FROM t6 ORDER BY doc_id""".stripMargin
  }

  /** PIVOT ECCENTRICITY LOWER BOUNDS — the iFUB/HADI building block for
    * diameter estimation at graph scale: exact all-pairs eccentricity is
    * O(n·E) BFS runs, so production diameter estimators batch k pivot
    * BFS traversals and bound ecc(v) ≥ max over pivots d(v, pivot)
    * (equality at v's true farthest node; the bound tightens as pivots
    * are added — the knob a 10⁹-node run turns). All k traversals share
    * ONE stationary edge list; per-round state is (node, pivot) → dist
    * keyed for the min-relax partial aggregate, so a round is one
    * equi-join + one map-side-combining min — k-way parallelism with no
    * extra passes over the edges. 6 synchronous rounds = the family's
    * closure bound on this graph ([[bfs]]); per-round `localCheckpoint`
    * keeps the iterative lineage flat. Output per node reaching ≥ 1
    * pivot: the eccentricity lower bound, the farthest pivot (ties to
    * the smallest pivot id via the min-struct argmax — deterministic,
    * engine-portable), and how many pivots reached it (a per-node
    * confidence census the estimator reads before trusting the bound). */
  def eccentricity(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d).select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint() // keep: reuse
    val edges = undirected(pairs).localCheckpoint() // keep: reuse
    var dist = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % 5 === 0)
      .select(col("id"), col("id").as("pv"), lit(0L).as("dist"))
      .localCheckpoint() // keep: round
    (1 to 6).foreach { _ =>
      val cand = edges.join(dist, edges("src") === dist("id"))
        .select(col("dst").as("id"), col("pv"), (col("dist") + 1L).as("dist"))
      dist = dist.union(cand).groupBy("id", "pv").agg(min("dist").as("dist"))
        .localCheckpoint() // keep: round
    }
    dist.groupBy("id")
      .agg(max("dist").as("ecc_lb"),
        min(struct((-col("dist")).as("nd"), col("pv").as("p"))).as("m"),
        count(lit(1)).as("n_pivots_reached"))
      .select(col("id").as("doc_id"), col("ecc_lb"),
        col("m.p").as("far_pivot"), col("n_pivots_reached"))
      .orderBy("doc_id")
  }

  /** SQL twin: identical 6 unrolled (id, pivot)-keyed min-relax rounds;
    * the argmax replays through a scalar composite key (−dist·2⁴⁰ + pv —
    * unique, so `arg_min` equals the Spark side's min-struct) because
    * DuckDB 1.0's arg_min takes no struct keys. */
  val eccentricitySql: String = {
    val iterations = (1 to 6).map { k =>
      s"""t$k AS MATERIALIZED (
         |  SELECT id, pv, min(dist) AS dist FROM (
         |    SELECT id, pv, dist FROM t${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, t.pv, t.dist + 1 AS dist
         |    FROM edges e JOIN t${k - 1} t ON e.src = t.id
         |  ) GROUP BY id, pv
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), t0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS id, src AS pv, CAST(0 AS BIGINT) AS dist
       |  FROM edges WHERE src % 5 = 0
       |), $iterations
       |SELECT id AS doc_id, CAST(max(dist) AS BIGINT) AS ecc_lb,
       |  arg_min(pv, -dist * 1099511627776 + pv) AS far_pivot,
       |  CAST(count(*) AS BIGINT) AS n_pivots_reached
       |FROM t6 GROUP BY id ORDER BY doc_id""".stripMargin
  }

  /** WIDEST PATH (max-bottleneck) to the nearest exemplar seed — the
    * (max, min) SEMIRING twin of [[bfs]]'s (min, +): a path's strength
    * is its WEAKEST edge (jaccard micros), and each node reports the
    * strongest path to any seed — the "how reliably is this document
    * tied into its duplication neighborhood" score single-linkage
    * clustering and trust propagation both read. Same stationary-edge
    * relax shape as BFS: per round one equi-join + one
    * partial-aggregable max of least(bottleneck, edge weight); the
    * recurrence is monotone non-decreasing and pure integer, so rounds
    * are order-independent and bit-portable. Unlike BFS, the maximin
    * fixpoint is NOT bounded by the hop diameter (a max-bottleneck path
    * can be hop-longer than any shortest path), so the loop iterates to
    * CONVERGENCE — the state is monotone (ids only added, bottlenecks
    * only rise), so a stable (count, Σbm) pair certifies the fixpoint —
    * with a THROWING 12-round cap; an under-converged result can never
    * reach the gate silently. The SQL twin unrolls the full 12-round
    * budget: past the fixpoint each round is a no-op, so whenever the
    * Spark side converges within the cap both engines emit the same
    * fixpoint. */
  def widestPath(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * lit(1000000.0)).cast("long").as("wm"))
      .localCheckpoint() // keep: reuse
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"), col("wm"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"), col("wm")))
      .localCheckpoint() // keep: reuse
    var b = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % 10 === 0)
      .select(col("id"), lit(1000000L).as("bm"))
      .localCheckpoint() // keep: round
    // monotone-state convergence probe: node ids are only ever added and
    // bottlenecks only ever rise, so (row count, Σ bm) stable across a
    // round == fixpoint. One tiny two-aggregate action per round.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum("bm")).head()
      (r.getLong(0), r.getLong(1))
    }
    var fp = fingerprint(b)
    var converged = false
    var rounds = 0
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the rounds (Shared.withLoopParallelism rationale)
    val nEdges = edges.count()
    Shared.withLoopParallelism(s, nEdges) {
      while (!converged && rounds < 12) {
        val cand = edges.join(b, edges("src") === b("id"))
          .select(col("dst").as("id"), least(col("bm"), col("wm")).as("bm"))
        b = b.union(cand).groupBy("id").agg(max("bm").as("bm")).localCheckpoint() // keep: round
        val nfp = fingerprint(b)
        converged = nfp == fp
        fp = nfp
        rounds += 1
      }
    }
    if (!converged)
      throw new IllegalStateException("g_widest_path: maximin fixpoint exceeded the 12-round cap")
    b.select(col("id").as("doc_id"), col("bm").as("bottleneck_micros"))
      .orderBy("doc_id")
  }

  /** SQL twin: the full 12-round budget unrolled (the Spark side's
    * throwing cap) of the identical max-of-least relax — rounds past
    * the fixpoint are no-ops, so the unrolled depth dominates any
    * converged Spark run. */
  val widestPathSql: String = {
    val iterations = (1 to 12).map { k =>
      s"""t$k AS MATERIALIZED (
         |  SELECT id, max(bm) AS bm FROM (
         |    SELECT id, bm FROM t${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, least(t${k - 1}.bm, e.wm) AS bm
         |    FROM edges e JOIN t${k - 1} ON e.src = t${k - 1}.id
         |  ) GROUP BY id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, wpairs AS MATERIALIZED (
       |  SELECT pa, pb, CAST(round(${OracleCtes.ngramJaccardExpr} * 1000000) AS BIGINT) AS wm
       |  FROM ng_pair WHERE ${OracleCtes.ngramJaccardExpr} >= 0.5
       |), edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst, wm FROM wpairs
       |  UNION ALL SELECT pb, pa, wm FROM wpairs
       |), t0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS bm
       |  FROM edges WHERE src % 10 = 0
       |), $iterations
       |SELECT id AS doc_id, bm AS bottleneck_micros
       |FROM t12 ORDER BY doc_id""".stripMargin
  }

  /** MINIMUM SPANNING FOREST via distributed BORŮVKA — the clustering
    * backbone (single-linkage dendrograms, network design) at graph
    * scale: every component picks its minimum outgoing edge, picked
    * edges join the forest, touched components contract, repeat —
    * O(log n) rounds, each ONE equi-join + one partial-aggregable
    * min-struct argmin (nothing resembling a global sort; Kruskal's
    * sort-everything is the non-distributable formulation). Edge
    * weights are 10⁶ − jaccard-micros with the (weight, a, b) composite
    * as tie-break — UNIQUE keys, so the MSF is unique and
    * engine-independent (the classic uniqueness theorem), which is what
    * lets a SQL twin replay it without replaying the schedule.
    * Contraction reuses [[Dedup.connectedComponents]] (partition-local
    * union-find + pointer-jumping min-labels, convergence-probed, THROWS
    * on cap) over the tiny component-graph of picked edges; the outer
    * loop is data-driven with its own throwing cap, so an unconverged
    * forest can never reach the gate silently. */
  def mst(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"),
        (lit(1000000L) - round(col("jaccard") * lit(1000000.0)).cast("long")).as("wm"))
      .localCheckpoint() // keep: reuse
    var comp = edges.select(explode(array(col("a"), col("b"))).as("id")).distinct()
      .select(col("id"), col("id").as("c")).localCheckpoint() // keep: round
    var forest: DataFrame = null
    var rounds = 0
    var converged = false
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the rounds (Shared.withLoopParallelism rationale)
    val nEdges = edges.count()
    Shared.withLoopParallelism(s, nEdges) {
      while (!converged && rounds < 6) {
        val ca = comp.select(col("id").as("a"), col("c").as("ca"))
        val cb = comp.select(col("id").as("b"), col("c").as("cb"))
        val ce = edges.join(ca, "a").join(cb, "b").filter(col("ca") =!= col("cb"))
          .localCheckpoint() // keep: round
        if (ce.isEmpty) converged = true
        else {
          val dir = ce.select(col("ca").as("c"), col("cb").as("oc"), col("wm"), col("a"), col("b"))
            .union(ce.select(col("cb").as("c"), col("ca").as("oc"), col("wm"), col("a"), col("b")))
          val pick = dir.groupBy("c")
            .agg(min(struct(col("wm"), col("a"), col("b"), col("oc"))).as("m"))
            .select(col("c"), col("m.oc").as("oc"), col("m.a").as("ea"),
              col("m.b").as("eb"), col("m.wm").as("ewm"))
            .localCheckpoint() // keep: round
          val roundEdges = pick.select(col("ea"), col("eb"), col("ewm")).distinct()
          forest = if (forest == null) roundEdges else forest.union(roundEdges)
          val labels = Dedup.connectedComponents(pick.select("c", "oc"))
          comp = comp.join(labels.withColumnRenamed("id", "c"), Seq("c"), "left")
            .select(col("id"), coalesce(col("label"), col("c")).as("c"))
            .localCheckpoint() // keep: round
        }
        rounds += 1
      }
    }
    if (!converged)
      throw new IllegalStateException("g_mst: Borůvka exceeded the 6-round cap")
    if (forest == null)
      edges.filter(lit(false))
        .select(col("a").as("doc_a"), col("b").as("doc_b"), col("wm").as("weight_micros"))
    else
      forest.distinct()
        .select(col("ea").as("doc_a"), col("eb").as("doc_b"), col("ewm").as("weight_micros"))
        .orderBy("doc_a", "doc_b")
  }

  /** SQL twin: 6 unrolled Borůvka rounds — the SAME budget as the Spark
    * side's throwing cap, so the SQL forest can never be shallower than
    * a Spark run that passed its own cap (rounds past convergence pick
    * nothing and are no-ops). Each round's contraction runs 7 min-label
    * relax rounds with POINTER DOUBLING (each round also folds l(l(c))),
    * so label chains up to depth 2⁶ = 64 collapse — dominating the
    * convergence-verified union-find the Spark side uses, where the old
    * 6 one-hop rounds silently truncated any picked-edge chain deeper
    * than 6. Unique composite weights make the forest identical
    * regardless of either engine's round schedule. */
  val mstSql: String = {
    def boruvkaRound(r: Int): String = {
      val relax = (1 to 7).map { j =>
        s"""ml${r}_$j AS MATERIALIZED (
           |  SELECT n.c, min(l) AS l FROM (
           |    SELECT c, l FROM ml${r}_${j - 1}
           |    UNION ALL
           |    SELECT me.c, ml.l FROM me$r me JOIN ml${r}_${j - 1} ml ON me.oc = ml.c
           |    UNION ALL
           |    SELECT a.c, b.l FROM ml${r}_${j - 1} a JOIN ml${r}_${j - 1} b ON a.l = b.c
           |  ) n GROUP BY n.c
           |)""".stripMargin
      }.mkString(", ")
      s"""dir$r AS (
         |  SELECT x.c AS c, y.c AS oc, e.wm, e.a, e.b
         |  FROM e JOIN comp${r - 1} x ON e.a = x.id JOIN comp${r - 1} y ON e.b = y.id
         |  WHERE x.c <> y.c
         |  UNION ALL
         |  SELECT y.c, x.c, e.wm, e.a, e.b
         |  FROM e JOIN comp${r - 1} x ON e.a = x.id JOIN comp${r - 1} y ON e.b = y.id
         |  WHERE x.c <> y.c
         |), pick$r AS MATERIALIZED (
         |  SELECT c, oc, a, b, wm FROM (
         |    SELECT c, oc, a, b, wm,
         |      row_number() OVER (PARTITION BY c ORDER BY wm, a, b) AS rn
         |    FROM dir$r) WHERE rn = 1
         |), me$r AS MATERIALIZED (
         |  SELECT c, oc FROM pick$r UNION ALL SELECT oc, c FROM pick$r
         |), ml${r}_0 AS (
         |  SELECT DISTINCT c, c AS l FROM me$r
         |), $relax, comp$r AS MATERIALIZED (
         |  SELECT p.id, coalesce(ml.l, p.c) AS c
         |  FROM comp${r - 1} p LEFT JOIN ml${r}_7 ml ON p.c = ml.c
         |)""".stripMargin
    }
    s"""WITH ${OracleCtes.ngramOverlap}, e AS MATERIALIZED (
       |  SELECT pa AS a, pb AS b,
       |    CAST(1000000 - round(${OracleCtes.ngramJaccardExpr} * 1000000) AS BIGINT) AS wm
       |  FROM ng_pair WHERE ${OracleCtes.ngramJaccardExpr} >= 0.5
       |), comp0 AS MATERIALIZED (
       |  SELECT id, id AS c FROM (SELECT a AS id FROM e UNION SELECT b FROM e)
       |), ${(1 to 6).map(boruvkaRound).mkString(", ")}
       |SELECT DISTINCT a AS doc_a, b AS doc_b, wm AS weight_micros
       |FROM (${(1 to 6).map(r => s"SELECT a, b, wm FROM pick$r").mkString(" UNION ALL ")})
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Semi-supervised label propagation over the embedding near-dup
    * graph: seed nodes (vec_id % 5 == 0) keep their known class label;
    * every other node takes the MODE of its neighbors' current labels
    * each synchronous round (ties to the smallest label — the
    * determinism knob plain LPA lacks), 3 rounds. This is how sparse
    * human labels get extended across a near-dup graph ("this doc is
    * spam, so its near-dups probably are"). Each round is one
    * edge-to-label join + one count aggregate + one window argmax —
    * all integer, bit-portable; per-round `localCheckpoint` keeps the
    * loop's logical plan flat (the [[graft.operators.Dedup]] CC
    * lesson). Unreached nodes stay unlabeled and are emitted with
    * label −1. */
  def community(s: SparkSession, d: String): DataFrame =
    communityLabels(s, d).orderBy("vec_id")

  /** Memoized [[communityFromPairs]] over the embedDup graph (r13):
    * three queries (g_community, g_modularity, g_conductance) each
    * re-ran the identical 3-round propagation per invocation — the
    * label table is node-sized verified output (longs + a boolean),
    * exactly the [[graft.operators.Shared.memo]] contract. */
  private[graft] def communityLabels(s: SparkSession, d: String): DataFrame =
    Shared.memo(s, d, "community_labels")(
      communityFromPairs(s, d, Dedup.embedDup(s, d)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
        .localCheckpoint())) // keep: reuse

  /** [[community]] over a pre-built (and checkpointed) pair table —
    * lets [[modularity]] audit the SAME candidate graph without paying
    * the embed-dup candidate build twice. */
  private[graft] def communityFromPairs(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    val edges = undirected(pairs).localCheckpoint() // keep: reuse
    val nodes = edges.select(col("src").as("id")).distinct()
    val seeds = nodes.join(
        Tables.embeddings(s, d).select(col("vec_id").as("id"), col("label")), "id")
      .filter(col("id") % 5 === 0)
      .select(col("id"), col("label").cast("long").as("label"))
      .localCheckpoint() // keep: reuse
    var labels = seeds
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the rounds (Shared.withLoopParallelism)
    Shared.withLoopParallelism(s, edges.count()) {
      for (_ <- 1 to 3) {
        val votes = edges.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("id").orderBy(col("n").desc, col("label"))
        val modes = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("id"), col("label"))
        // seeds are clamped; non-seeds take this round's mode
        labels = seeds.union(
            modes.join(seeds.select("id"), Seq("id"), "left_anti"))
          .localCheckpoint() // keep: round
      }
    }
    nodes.join(labels, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("label"), lit(-1L)).as("pred_label"),
        (col("id") % 5 === 0).as("is_seed"))
      .orderBy("vec_id")
  }

  /** SQL twin: same graph, 3 unrolled mode-propagation rounds. */
  val communitySql: String = {
    val rounds = (1 to 3).map { k =>
      s"""v$k AS (
         |  SELECT e.dst AS id, l.label, count(*) AS n
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.id
         |  GROUP BY e.dst, l.label
         |), m$k AS (
         |  SELECT id, label FROM (
         |    SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS rn
         |    FROM v$k
         |  ) WHERE rn = 1
         |), l$k AS (
         |  SELECT * FROM seeds
         |  UNION ALL
         |  SELECT m.id, m.label FROM m$k m WHERE m.id NOT IN (SELECT id FROM seeds)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}, e0 AS (
       |  SELECT vec_id, label FROM embeddings
       |), edges AS (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM edges
       |), seeds AS (
       |  SELECT n.id, CAST(e0.label AS BIGINT) AS label
       |  FROM nodes n JOIN e0 ON e0.vec_id = n.id
       |  WHERE n.id % 5 = 0
       |), l0 AS (SELECT * FROM seeds
       |), $rounds
       |SELECT n.id AS vec_id, coalesce(l.label, -1) AS pred_label,
       |  n.id % 5 = 0 AS is_seed
       |FROM nodes n LEFT JOIN l3 l USING (id)
       |ORDER BY vec_id""".stripMargin
  }

  /** Degree profile of the near-dup graph — the first thing an operator
    * looks at before running anything iterative on 100 TB of pairs
    * (a power-law tail means salting/hub-capping; assortativity predicts
    * whether wedge-based algorithms blow up): per degree value, the node
    * count and the mean neighbor degree (sum over all edge endpoints of
    * the other end's degree / the edge-endpoint count — exact longs, one
    * IEEE division at the end). Two partial-agg shuffles over the edge
    * list, nothing touches the documents. */
  def degreeStats(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint() // keep: reuse
    val edges = undirected(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withNbrDeg = edges
      .join(deg.select(col("src").as("dst"), col("deg").as("nbr_deg")), "dst")
      .join(deg, "src")
    withNbrDeg.groupBy("deg")
      .agg(countDistinct("src").as("n_nodes"),
        count(lit(1)).as("n_endpoints"),
        sum("nbr_deg").as("sum_nbr_deg"))
      .select(col("deg").as("degree"), col("n_nodes"),
        col("sum_nbr_deg"),
        ExactRound.r(col("sum_nbr_deg").cast("double") / col("n_endpoints"), 6)
          .as("avg_nbr_degree"))
      .orderBy("degree")
  }

  /** SQL twin on the same pair graph. */
  val degreeStatsSql: String = {
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |)
       |SELECT d.deg AS degree, count(DISTINCT e.src) AS n_nodes,
       |  CAST(sum(nd.deg) AS BIGINT) AS sum_nbr_deg,
       |  ${ExactRound.rSql("CAST(sum(nd.deg) AS DOUBLE) / count(*)", 6)} AS avg_nbr_degree
       |FROM edges e JOIN deg d ON d.src = e.src JOIN deg nd ON nd.src = e.dst
       |GROUP BY d.deg ORDER BY degree""".stripMargin
  }

  /** 2-core peeling over the near-dup graph — separates dense
    * duplication HUBS (nodes that survive repeated removal of degree-1
    * nodes) from chain/pendant structure: a doc that stays in the 2-core
    * sits inside a cluster with redundant similarity paths (template
    * families), while pendant docs hang off a single match. 4 synchronous
    * peeling rounds, each one degree count + one semi-join on the
    * surviving subgraph with per-round `localCheckpoint` (the
    * [[Dedup.connectedComponents]] lineage discipline); the emitted
    * `converged` flag (round 4 removed nobody) certifies the answer IS
    * the true 2-core rather than an iteration cap artifact — round
    * count follows graph depth, and pendant CHAINS peel one hop per
    * round. Per node: survives flag + final degree within the core. */
  def kcore(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint() // keep: reuse
    val allNodes = pairs.select(col("a").as("id")).union(pairs.select(col("b").as("id"))).distinct()
    var edges = undirected(pairs).localCheckpoint() // keep: round
    var removedInLast = 0L
    var round = 0
    // one count per round (the previous round's count is remembered, not
    // re-run); loop partitions from the measured edge count with AQE's
    // per-stage jobs off (Shared.withLoopParallelism rationale)
    var edgeCount = edges.count()
    Shared.withLoopParallelism(s, edgeCount) {
      while (round < 4) {
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= 2).select(col("src").as("k"))
        val next = edges
          .join(keep.withColumnRenamed("k", "src"), "src", "left_semi")
          .join(keep.withColumnRenamed("k", "dst"), "dst", "left_semi")
          .select("src", "dst")
          .localCheckpoint() // keep: round
        val nextCount = next.count()
        removedInLast = edgeCount - nextCount
        edgeCount = nextCount
        edges = next
        round += 1
      }
    }
    val coreDeg = edges.groupBy("src").agg(count(lit(1)).as("core_degree"))
    allNodes.join(coreDeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        col("core_degree").isNotNull.as("in_2core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"),
        lit(removedInLast == 0L).as("converged"))
      .orderBy("doc_id")
  }

  /** SQL twin: 4 unrolled peeling rounds over the same pair graph; the
    * convergence flag compares round-3 and round-4 edge counts. */
  val kcoreSql: String = {
    val rounds = (1 to 4).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT src, count(*) AS deg FROM e${k - 1} GROUP BY src
         |), e$k AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${k - 1} e
         |  JOIN d$k ks ON ks.src = e.src AND ks.deg >= 2
         |  JOIN d$k kd ON kd.src = e.dst AND kd.deg >= 2
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, e0 AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS id FROM e0
       |), $rounds, core AS (
       |  SELECT src, count(*) AS core_degree FROM e4 GROUP BY src
       |), conv AS (
       |  SELECT (SELECT count(*) FROM e3) = (SELECT count(*) FROM e4) AS converged
       |)
       |SELECT n.id AS doc_id, c.src IS NOT NULL AS in_2core,
       |  CAST(coalesce(c.core_degree, 0) AS BIGINT) AS core_degree,
       |  v.converged
       |FROM nodes n LEFT JOIN core c ON c.src = n.id, conv v
       |ORDER BY doc_id""".stripMargin
  }

  /** Degree assortativity of the near-dup graph — the Newman r
    * coefficient: Pearson correlation of endpoint degrees over the
    * directed edge list. Positive r = hubs link to hubs (template
    * families duplicating each other); negative r = star/hub-and-spoke
    * duplication. All five moments (Σx, Σy, Σxy, Σx², Σy²) are EXACT
    * LONG sums of integer degrees — accumulation-order-free, so the one
    * final float expression (two casts, one sqrt, one divide, fixed
    * order) is bit-identical across engines; a naive `corr()` double
    * aggregate is accumulation-order-dependent and cross-engine
    * unstable. Scale: one degree count + two narrow joins + a 5-long
    * partial agg; moments fit in long up to ~10⁶-degree hubs at 10⁹
    * edges (beyond that, swap the sums to decimal(38) — same plan). */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint() // keep: reuse
    val edges = undirected(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val xy = edges
      .join(deg, "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
      .select(col("deg").as("x"), col("y"))
    val mom = xy.agg(count(lit(1)).as("m"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val r = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
      sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
        (col("m") * col("syy") - col("sy") * col("sy")).cast("double"))
    // r is undefined when either endpoint-degree variance is zero (an
    // empty or degree-regular pair graph — real at tiny SFs): the raw
    // expression would emit NaN/Infinity while a SQL engine may emit
    // NULL, an oracle-parity landmine. The guard is an exact LONG
    // comparison, so both engines take the same branch bit-for-bit.
    val varX = col("m") * col("sxx") - col("sx") * col("sx")
    val varY = col("m") * col("syy") - col("sy") * col("sy")
    mom.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), (col("m") / lit(2L)).cast("long").as("n_edges"),
        when(varX > 0 && varY > 0, ExactRound.r(r, 6)).as("assortativity"))
  }

  /** SQL twin: same pair graph, same exact-long moments, same
    * fixed-order float tail. */
  val assortativitySql: String = {
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), xy AS (
       |  SELECT d.deg AS x, nd.deg AS y
       |  FROM edges e JOIN deg d ON d.src = e.src JOIN deg nd ON nd.src = e.dst
       |), mom AS (
       |  SELECT count(*) AS m,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM xy
       |), nn AS (SELECT count(*) AS n_nodes FROM deg)
       |SELECT nn.n_nodes, CAST(mom.m / 2 AS BIGINT) AS n_edges,
       |  CASE WHEN mom.m * mom.sxx - mom.sx * mom.sx > 0
       |        AND mom.m * mom.syy - mom.sy * mom.sy > 0 THEN
       |  ${ExactRound.rSql(
            "CAST(mom.m * mom.sxy - mom.sx * mom.sy AS DOUBLE) / " +
              "sqrt(CAST(mom.m * mom.sxx - mom.sx * mom.sx AS DOUBLE) * " +
              "CAST(mom.m * mom.syy - mom.sy * mom.sy AS DOUBLE))", 6)}
       |  END AS assortativity
       |FROM mom, nn""".stripMargin
  }

  /** Per-community census of the embed-dup graph under the memoized
    * [[communityLabels]] partition — what [[modularity]] and
    * [[conductance]] both score: (com, n_nodes, l_in2, d_tot, m2) with
    * l_in2 = directed edges inside the community, d_tot = its degree
    * mass and m2 = the directed edge count of the whole graph. Every
    * term an exact long from two label joins on the edge list. */
  private def communityCensus(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.embedDup(s, d)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
      .localCheckpoint() // keep: reuse
    val lab = communityLabels(s, d)
      .select(col("vec_id").as("id"), col("pred_label").as("com"))
      .localCheckpoint() // keep: reuse
    val edges = undirected(pairs)
    val withCom = edges
      .join(lab.select(col("id").as("src"), col("com").as("com_s")), "src")
      .join(lab.select(col("id").as("dst"), col("com").as("com_d")), "dst")
    val lc = withCom.filter(col("com_s") === col("com_d"))
      .groupBy(col("com_s").as("com")).agg(count(lit(1)).as("l_in2"))
    val dc = withCom.groupBy(col("com_s").as("com"))
      .agg(count(lit(1)).as("d_tot"), countDistinct("src").as("n_nodes"))
    dc.join(lc, Seq("com"), "left")
      .select(col("com"), col("n_nodes"),
        coalesce(col("l_in2"), lit(0L)).as("l_in2"), col("d_tot"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("m2"))))
  }

  /** Newman modularity Q of the [[community]] partition over the same
    * embed-dup graph — the "are these communities real" score (Q > 0:
    * denser inside than a degree-preserving random graph; Q ≈ 0: label
    * propagation found noise). Per community: internal-edge count,
    * degree mass, and the Q contribution (m2·L₂ᶜ − Dᶜ²)/m2² kept as an
    * exact-integer NUMERATOR until one final division — the naive
    * Σ(Lᶜ/m − (Dᶜ/2m)²) float sum is accumulation-order-dependent
    * across communities, the integer numerator sum is not. q_total is
    * repeated per row (constant column) so the one-pass result carries
    * both grains. Unlabeled nodes (pred_label −1) count as one
    * community, by construction of the propagation output. Scale: two
    * narrow label joins on the edge list + community-sized aggs;
    * numerators fit longs to ~10⁹ directed edges (then decimal(38)). */
  def modularity(s: SparkSession, d: String): DataFrame = {
    val per = communityCensus(s, d)
      .withColumn("num", col("m2") * col("l_in2") - col("d_tot") * col("d_tot"))
      .localCheckpoint() // keep: reuse
    val tot = per.agg(sum("num").as("num_tot"))
    // per rows only exist when the edge list is nonempty (m2 ≥ 1), but
    // the zero-denominator guard costs nothing and keeps the contract
    // NULL-not-NaN should a degenerate graph ever reach here — exact
    // LONG condition, mirrored in the SQL twin
    per.crossJoin(broadcast(tot))
      .select(col("com"), col("n_nodes"),
        (col("l_in2") / lit(2L)).cast("long").as("l_in"), col("d_tot"),
        when(col("m2") > 0,
          ExactRound.r(col("num").cast("double") / (col("m2") * col("m2")).cast("double"), 6))
          .as("contrib"),
        when(col("m2") > 0,
          ExactRound.r(col("num_tot").cast("double") / (col("m2") * col("m2")).cast("double"), 6))
          .as("q_total"))
      .orderBy("com")
  }

  /** SQL twin: the communitySql CTE chain re-emitted, then the same
    * exact-integer modularity tail. */
  val modularitySql: String = {
    val rounds = (1 to 3).map { k =>
      s"""v$k AS (
         |  SELECT e.dst AS id, l.label, count(*) AS n
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.id
         |  GROUP BY e.dst, l.label
         |), m$k AS (
         |  SELECT id, label FROM (
         |    SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS rn
         |    FROM v$k
         |  ) WHERE rn = 1
         |), l$k AS (
         |  SELECT * FROM seeds
         |  UNION ALL
         |  SELECT m.id, m.label FROM m$k m WHERE m.id NOT IN (SELECT id FROM seeds)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}, e0 AS (
       |  SELECT vec_id, label FROM embeddings
       |), edges AS (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM edges
       |), seeds AS (
       |  SELECT n.id, CAST(e0.label AS BIGINT) AS label
       |  FROM nodes n JOIN e0 ON e0.vec_id = n.id
       |  WHERE n.id % 5 = 0
       |), l0 AS (SELECT * FROM seeds
       |), $rounds, lab AS (
       |  SELECT n.id, coalesce(l.label, -1) AS com
       |  FROM nodes n LEFT JOIN l3 l USING (id)
       |), wc AS (
       |  SELECT la.com AS com_s, lb.com AS com_d, e.src
       |  FROM edges e JOIN lab la ON e.src = la.id JOIN lab lb ON e.dst = lb.id
       |), lc AS (
       |  SELECT com_s AS com, count(*) AS l_in2 FROM wc WHERE com_s = com_d GROUP BY 1
       |), dc AS (
       |  SELECT com_s AS com, count(*) AS d_tot, count(DISTINCT src) AS n_nodes
       |  FROM wc GROUP BY 1
       |), m2t AS (SELECT count(*) AS m2 FROM edges
       |), per AS (
       |  SELECT dc.com, dc.n_nodes, coalesce(lc.l_in2, 0) AS l_in2, dc.d_tot,
       |    m2t.m2, CAST(m2t.m2 * coalesce(lc.l_in2, 0) - dc.d_tot * dc.d_tot AS BIGINT) AS num
       |  FROM dc LEFT JOIN lc USING (com), m2t
       |), tot AS (SELECT CAST(sum(num) AS BIGINT) AS num_tot FROM per)
       |SELECT per.com, per.n_nodes,
       |  CAST(per.l_in2 // 2 AS BIGINT) AS l_in, per.d_tot,
       |  CASE WHEN per.m2 > 0 THEN ${ExactRound.rSql("CAST(per.num AS DOUBLE) / CAST(per.m2 * per.m2 AS DOUBLE)", 6)} END AS contrib,
       |  CASE WHEN per.m2 > 0 THEN ${ExactRound.rSql("CAST(tot.num_tot AS DOUBLE) / CAST(per.m2 * per.m2 AS DOUBLE)", 6)} END AS q_total
       |FROM per, tot ORDER BY com""".stripMargin
  }

  /** GLOBAL TRANSITIVITY (wedge census) — the one-number structural
    * summary beside [[clustCoef]]'s per-node view: C = 3·T / W over
    * the whole near-dup graph, where W = Σ deg·(deg−1)/2 is the wedge
    * (open-triple) count and T the distinct-triangle count. C near 1
    * says the duplication graph is a union of near-cliques (clean
    * template families — safe to canonicalize per component); C near
    * 0 with high degree says chains/stars (single-linkage over-merge
    * risk — the 100 TB dedup-policy gate in one scalar). Rides the
    * shared degree-ordered wedge enumeration; census terms are exact
    * longs, one rounded division. */
  def transitivity(s: SparkSession, d: String): DataFrame = {
    val tc = triangleCounts(s, d)
    tc.agg(
      count(lit(1)).as("n_nodes"),
      // integer div (never FP): these sums exceed double's 53-bit
      // mantissa long before a 100 TB graph does
      expr("sum(deg) div 2").as("n_edges"),
      expr("sum(deg * (deg - 1)) div 2").as("n_wedges"),
      expr("sum(n_tri) div 3").as("n_triangles"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          ExactRound.r(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("transitivity"))
  }

  /** SQL twin on the shared triangle core. */
  val transitivitySql: String =
    s"""$triangleCoreSql
       |, census AS (
       |  SELECT (SELECT count(*) FROM deg) AS n_nodes,
       |    (SELECT CAST(sum(deg) // 2 AS BIGINT) FROM deg) AS n_edges,
       |    (SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
       |    (SELECT CAST(coalesce(sum(c), 0) // 3 AS BIGINT) FROM pernode) AS n_triangles
       |)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges > 0
       |    THEN ${ExactRound.rSql("3.0 * n_triangles / n_wedges", 6)}
       |    ELSE 0.0 END AS transitivity
       |FROM census""".stripMargin

  /** PERSONALIZED PAGERANK — random walk with restart TO A SEED SET
    * (the recommendation / similar-items workhorse; global [[pagerank]]
    * asks "globally central?", PPR asks "close to THESE nodes?" — over
    * the near-dup graph that means "documents in the duplication
    * neighborhood of this template family"): [[pagerankLoop]] with the
    * teleport mass restricted to seeds (id % 10 == 0 — deterministic so
    * the oracle knows the set): rank₀ = 1M/|S| on seeds else 0, per
    * round rank = (150k/|S| if seed else 0) + 0.85·Σ contrib, 5 rounds.
    * Non-seed mass decays unless reachable from seeds — exactly the
    * locality the global variant can't express. Same scale shape as
    * pagerank: stationary edge blocks, only the rank table moves. */
  def personalizedPagerank(s: SparkSession, d: String): DataFrame =
    pagerankLoop(Dedup.ngramJaccard(s, d).select("doc_a", "doc_b"), iters = 5,
        isSeed = _ % 10 == 0)
      .select(col("id").as("doc_id"), col("r").as("ppr_micros"))
      .withColumn("is_seed", col("doc_id") % 10 === 0)
      .orderBy("doc_id")

  /** SQL twin: pagerankSql's unrolled chain with the teleport mass
    * conditioned on seed membership. */
  val personalizedPagerankSql: String = {
    val iterations = (1 to 5).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT e.dst AS id, sum(t${k - 1}.r // d.deg) AS contrib
         |  FROM edges e JOIN t${k - 1} ON e.src = t${k - 1}.id JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst
         |), t$k AS MATERIALIZED (
         |  SELECT nd.id,
         |    (CASE WHEN nd.id % 10 = 0 THEN 150000 // sc.n ELSE 0 END)
         |      + (coalesce(c.contrib, 0) * 17) // 20 AS r
         |  FROM nodes nd LEFT JOIN c$k c USING (id), sc
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), nodes AS MATERIALIZED (
       |  SELECT src AS id FROM deg
       |), sc AS MATERIALIZED (
       |  SELECT count(*) AS n FROM nodes WHERE id % 10 = 0
       |), t0 AS MATERIALIZED (
       |  SELECT id, CASE WHEN id % 10 = 0 THEN 1000000 // sc.n ELSE 0 END AS r
       |  FROM nodes, sc
       |), $iterations
       |SELECT id AS doc_id, CAST(r AS BIGINT) AS ppr_micros,
       |  id % 10 = 0 AS is_seed
       |FROM t5 ORDER BY doc_id""".stripMargin
  }

  /** CONDUCTANCE per community — the CUT-quality complement to
    * [[modularity]]'s density score (Q asks "denser inside than
    * chance?"; φ asks "how leaky is the boundary?" — the number
    * graph-partition pruning at 100 TB is actually tuned by, because a
    * low-conductance community can be processed in isolation): over
    * the same [[communityFromPairs]] partition of the embedding
    * near-dup graph, per community φ = cut / min(vol(C), vol(rest)) —
    * cut = directed edges leaving C (d_tot − l_in2), vol = degree mass
    * — every term an exact long from the same two label joins
    * modularity uses, one rounded IEEE division at the end. The
    * all-communities `worst` column (max φ) rides along: the single
    * number that says whether ANY block leaks. */
  def conductance(s: SparkSession, d: String): DataFrame = {
    val per = communityCensus(s, d)
      .select(col("com"), col("n_nodes"), (col("d_tot") - col("l_in2")).as("cut"),
        col("d_tot").as("vol"), col("m2"))
      .withColumn("denom", least(col("vol"), col("m2") - col("vol")))
      .withColumn("phi",
        when(col("denom") > 0,
          ExactRound.r(col("cut").cast("double") / col("denom").cast("double"), 6))
          .otherwise(lit(0.0)))
      .localCheckpoint() // keep: reuse
    val worst = per.agg(max("phi").as("worst"))
    per.crossJoin(broadcast(worst))
      .select("com", "n_nodes", "cut", "vol", "phi", "worst")
      .orderBy("com")
  }

  /** SQL twin: the communitySql CTE chain re-emitted, same exact-long
    * cut/volume terms, one rounded division. */
  val conductanceSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""v$k AS (
         |  SELECT e.dst AS id, l.label, count(*) AS n
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.id
         |  GROUP BY e.dst, l.label
         |), m$k AS (
         |  SELECT id, label FROM (
         |    SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY n DESC, label) AS rn
         |    FROM v$k
         |  ) WHERE rn = 1
         |), l$k AS (
         |  SELECT * FROM seeds
         |  UNION ALL
         |  SELECT m.id, m.label FROM m$k m WHERE m.id NOT IN (SELECT id FROM seeds)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}, e0 AS (
       |  SELECT vec_id, label FROM embeddings
       |), edges AS (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM edges
       |), seeds AS (
       |  SELECT n.id, CAST(e0.label AS BIGINT) AS label
       |  FROM nodes n JOIN e0 ON e0.vec_id = n.id
       |  WHERE n.id % 5 = 0
       |), l0 AS (SELECT * FROM seeds
       |), $rounds, lab AS (
       |  SELECT n.id, coalesce(l.label, -1) AS com
       |  FROM nodes n LEFT JOIN l3 l USING (id)
       |), wc AS (
       |  SELECT la.com AS com_s, lb.com AS com_d, e.src
       |  FROM edges e JOIN lab la ON e.src = la.id JOIN lab lb ON e.dst = lb.id
       |), lc AS (
       |  SELECT com_s AS com, count(*) AS l_in2 FROM wc WHERE com_s = com_d GROUP BY 1
       |), dc AS (
       |  SELECT com_s AS com, count(*) AS d_tot, count(DISTINCT src) AS n_nodes
       |  FROM wc GROUP BY 1
       |), m2t AS (SELECT count(*) AS m2 FROM edges
       |), per AS (
       |  SELECT dc.com, dc.n_nodes,
       |    CAST(dc.d_tot - coalesce(lc.l_in2, 0) AS BIGINT) AS cut,
       |    CAST(dc.d_tot AS BIGINT) AS vol,
       |    CAST(least(dc.d_tot, m2t.m2 - dc.d_tot) AS BIGINT) AS denom
       |  FROM dc LEFT JOIN lc USING (com), m2t
       |), perphi AS (
       |  SELECT com, n_nodes, cut, vol,
       |    CASE WHEN denom > 0
       |      THEN ${ExactRound.rSql("CAST(cut AS DOUBLE) / CAST(denom AS DOUBLE)", 6)}
       |      ELSE 0.0 END AS phi
       |  FROM per
       |), w AS (SELECT max(phi) AS worst FROM perphi)
       |SELECT com, n_nodes, cut, vol, phi, w.worst
       |FROM perphi, w ORDER BY com""".stripMargin
  }

  /** INCREMENTAL connected components — the graph twin of
    * [[graft.operators.Pipeline.incremental]]: when new edges arrive on
    * a graph whose components are already labeled, the update touches
    * only the CONTRACTED graph (one super-node per existing component
    * label + the genuinely new nodes), never re-clustering the full
    * edge set. The near-dup pair graph is split deterministically into
    * a base (~80 %, (doc_a+doc_b) % 5 ≠ 0) and an increment; base
    * labels come from the standard min-label CC, increment edges are
    * rewritten to (label(a), label(b)) super-edges, CC runs on that
    * contracted graph — bounded by components-touched, not corpus —
    * and the relabel join maps every affected old label to its merged
    * min. Exactness: labels are component-min doc ids, every
    * super-node id IS its component's min, so the contracted min is
    * the true merged-component min — bit-equal to the full recompute,
    * which is exactly what the oracle pins ([[Dedup.dupClustersSql]],
    * the from-scratch transitive closure over ALL edges). At 100 TB
    * this is the difference between a daily re-cluster of 10¹² pairs
    * and a join proportional to the day's new pairs. */
  def wccIncremental(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d).select("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val base = pairs.filter((col("doc_a") + col("doc_b")) % 5 =!= 0)
    val inc = pairs.filter((col("doc_a") + col("doc_b")) % 5 === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val baseLabels = Dedup.connectedComponents(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // contract: each endpoint becomes its existing component label;
    // endpoints unseen in the base keep their own id (they ARE their
    // 1-node component's min). Self-loops = already-connected, drop.
    val la = baseLabels.select(col("id").as("doc_a"), col("label").as("la"))
    val lb = baseLabels.select(col("id").as("doc_b"), col("label").as("lb"))
    val contracted = inc
      .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val fix = Dedup.connectedComponents(contracted)
      .select(col("id").as("old_label"), col("label").as("new_label"))
    // relabel the base through the merged super-labels; untouched
    // components pass through unchanged
    val updatedBase = baseLabels.join(fix, col("label") === col("old_label"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("new_label"), col("label")).as("cluster_id"))
    // nodes that exist ONLY in increment edges get their merged label
    // directly (their contracted id is their own doc id)
    val newNodes = inc.select(col("doc_a").as("id"))
      .union(inc.select(col("doc_b").as("id"))).distinct()
      .join(baseLabels.select("id"), Seq("id"), "left_anti")
      .join(fix, col("id") === col("old_label"), "left")
      .select(col("id").as("doc_id"), coalesce(col("new_label"), col("id")).as("cluster_id"))
    updatedBase.unionByName(newNodes).orderBy("doc_id")
  }

  /** STRONGLY CONNECTED COMPONENTS — the directed completion of the
    * graph family (WCC/g_dup_clusters ignore direction; SCC is what
    * link graphs, citation graphs and dependency graphs actually need),
    * via the distributed COLORING algorithm (Orzan's FB-coloring, the
    * standard Pregel-style SCC): repeat until every node is claimed —
    *
    *   1. color(v) = max id that REACHES v within the active subgraph
    *      (monotone max-label propagation to fixpoint; each round is
    *      one edge join + partial-agg max, the PageRank cost envelope);
    *   2. nodes with color(v) = v are roots; BACKWARD reachability from
    *      each root WITHIN its color class marks that root's whole SCC
    *      (u is in SCC(r) iff r reaches u — that is color(u) = r — and
    *      u reaches r inside the class);
    *   3. claimed nodes retire; survivors repeat with stale colors
    *      discarded.
    *
    * Both fixpoints are data-driven `while` loops with eager
    * per-round `localCheckpoint` (the [[Dedup.dupClusters]] iterative
    * discipline) and convergence caps that THROW rather than emit an
    * unconverged census. The directed graph is synthesized analytically
    * over the contiguous doc_id space — blocks of 8 form a forward
    * chain, every block whose index is not divisible by 3 closes into
    * an 8-cycle (one SCC), chain blocks stay acyclic (8 singletons),
    * and forward chords 8k → 8k+8 weakly connect everything WITHOUT
    * creating cross-block cycles — so weak connectivity is global but
    * the strong components are exactly the cycles: an algorithm that
    * confuses reachability with mutual reachability (the WCC-for-SCC
    * bug) collapses everything to one giant component and goes red.
    * Convergence here is id-order-correlated (the dominant color is
    * intra-block, ≤ 8 hops) and phase 1 pointer-jumps its color table
    * (see the loop comment), so forward fixpoints land in O(log hops)
    * rounds; a general web graph pays log-diameter rounds forward and
    * diameter-bounded rounds backward — the documented cost of exact
    * distributed SCC. Result: the SCC size census
    * (size, n_sccs, n_nodes), analytic in N. */
  def scc(s: SparkSession, d: String): DataFrame = {
    // No Tables.parallelize here (r13): the loop's per-row work is a few
    // long comparisons, so spreading a small scan over defaultParallelism
    // only multiplies task-launch latency through every one of the
    // ~O(log D) checkpointed rounds (measured: 173 jobs / 2224 tasks at
    // sf0.1 — the task count was 32x the data's need). Partitioning now
    // derives from the scan's splits + AQE coalescing, which is the
    // scale-adaptive shape: a 100 TB scan has thousands of splits and
    // the loop inherits them.
    val ids = Tables.documents(s, d)
      .select(col("doc_id").as("id")).localCheckpoint() // keep: reuse
    val within = ids.filter(col("id") % 8 < 7)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val closing = ids.filter(col("id") % 8 === 7 && expr("(id div 8) % 3") =!= 0)
      .select(col("id").as("src"), (col("id") - 7).as("dst"))
    val chord = ids.filter(col("id") % 8 === 0)
      .select(col("id").as("src"), (col("id") + 8).as("dst"))
    val edges = within.union(closing).union(chord)
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst").localCheckpoint() // keep: reuse

    var active = ids
    var claimed: List[DataFrame] = Nil
    var outer = 0
    // the outer convergence count is tracked ARITHMETICALLY: phase 2
    // already counts the nodes it claims (nMarked), so the remaining
    // active population is one subtraction, not a per-round count()
    // action over the anti-joined survivor frame
    var activeCount = active.count()
    // loop shuffle partitions sized from the measured node count; AQE's
    // per-stage jobs off for the rounds (Shared.withLoopParallelism)
    Shared.withLoopParallelism(s, activeCount) {
    while (activeCount > 0) {
      outer += 1
      if (outer > 20) throw new IllegalStateException(
        "SCC coloring did not finish in 20 pivot rounds")
      val eAct = edges
        .join(active.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(active.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst").localCheckpoint() // keep: round
      // phase 1: forward max-label fixpoint, accelerated by POINTER
      // JUMPING on the color table: after each edge relaxation,
      // c(v) ← max(c(v), c(c(v))). Sound because c(c(v)) reaches c(v)
      // (phase-1 invariant) and c(v) reaches v, so c(c(v)) is itself a
      // valid reaching id; at the fixpoint c(root) = root makes the
      // jump the identity, so the fixpoint is unchanged. Each round
      // now composes one edge hop with one label-chase, doubling the
      // effective propagation distance — O(D) rounds become O(log D),
      // the [[Dedup.connectedComponents]] discipline applied to
      // the directed max-label phase.
      var color = active.withColumn("c", col("id")).localCheckpoint() // keep: round
      var round = 0
      var changed = 1L
      while (changed > 0) {
        round += 1
        if (round > 64) throw new IllegalStateException(
          "SCC color propagation did not converge in 64 rounds")
        val in = eAct
          .join(color.select(col("id").as("src"), col("c").as("cs")), "src")
          .groupBy(col("dst").as("id")).agg(max("cs").as("cin"))
        // carry the pre-round color as c0 through the relax+jump so the
        // convergence test is a SCAN of the just-checkpointed blocks
        // (guide §2.4: the old `next ⋈ color on id` change-count join
        // was a per-round two-exchange shuffle spent re-deriving a
        // column the round already had in hand)
        val relaxed = color.join(in, Seq("id"), "left")
          .select(col("id"), col("c").as("c0"),
            greatest(col("c"), coalesce(col("cin"), lit(Long.MinValue))).as("c"))
        val next = relaxed
          .join(relaxed.select(col("id").as("c"), col("c").as("cc")), Seq("c"), "left")
          .select(col("id"), col("c0"),
            greatest(col("c"), coalesce(col("cc"), col("c"))).as("c"))
          .localCheckpoint() // keep: round
        changed = next.filter(col("c") =!= col("c0")).count()
        color = next.select("id", "c")
      }
      // phase 2: backward containment within the color class
      var mark = color.withColumn("m", col("id") === col("c"))
        .localCheckpoint() // keep: round
      var nMarked = mark.filter(col("m")).count()
      if (nMarked == 0) throw new IllegalStateException(
        "no roots found — coloring fixpoint is inconsistent")
      round = 0
      changed = 1L
      while (changed > 0) {
        round += 1
        if (round > 64) throw new IllegalStateException(
          "SCC containment did not converge in 64 rounds")
        val reach = eAct
          .join(mark.filter(col("m")).select(col("id").as("dst"), col("c").as("cd")), "dst")
          .select(col("src").as("id"), col("cd").as("c")).distinct()
        val next = mark
          .join(reach.withColumn("hit", lit(true)), Seq("id", "c"), "left")
          .select(col("id"), col("c"), (col("m") || col("hit").isNotNull).as("m"))
          .localCheckpoint() // keep: round
        val nNext = next.filter(col("m")).count()
        changed = nNext - nMarked
        nMarked = nNext
        mark = next
      }
      val newly = mark.filter(col("m"))
        .select(col("id"), col("c").as("scc_id")).localCheckpoint() // keep: round
      claimed ::= newly
      active = active.join(newly.select("id"), Seq("id"), "left_anti")
        .localCheckpoint() // keep: round
      activeCount -= nMarked // newly has exactly nMarked rows, all active
    }
    } // withLoopParallelism
    claimed.reduce(_ unionByName _)
      .groupBy("scc_id").agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_sccs"), sum("size").as("n_nodes"))
      .orderBy("size")
  }

  /** The synthesis is the oracle: with N contiguous ids, full blocks =
    * N div 8, of which every third (block index ≡ 0 mod 3) stays a
    * chain — 8 singletons — and the rest close into one 8-cycle; the
    * partial tail block is all singletons. */
  val sccSql: String =
    """WITH p AS (
      |  SELECT count(*) // 8 AS nfull, count(*) % 8 AS rem FROM documents
      |), c AS (
      |  SELECT nfull - (nfull + 2) // 3 AS cyc,
      |         8 * ((nfull + 2) // 3) + rem AS singles
      |  FROM p
      |)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS size, CAST(singles AS BIGINT) AS n_sccs,
      |    CAST(singles AS BIGINT) AS n_nodes FROM c WHERE singles > 0
      |  UNION ALL
      |  SELECT CAST(8 AS BIGINT), CAST(cyc AS BIGINT), CAST(8 * cyc AS BIGINT)
      |  FROM c WHERE cyc > 0
      |) ORDER BY size""".stripMargin

  // ------------------------------------------------- stress centrality

  /** STRESS CENTRALITY via the Brandes two-pass BFS-DAG machinery —
    * "how many shortest paths pass THROUGH each document" over the
    * near-dup graph, the load-bearing-node measure degree and PageRank
    * both miss (a low-degree bridge between two dup clusters carries
    * every cross-cluster path). Stress is the INTEGER member of the
    * betweenness family: betweenness divides each path count by σ_st
    * (rational deltas — not bit-portable across engines), stress sums
    * the raw counts, so every quantity here is an exact Long and the
    * result is bit-identical anywhere. Runs over the EMBEDDING near-dup
    * graph ([[Dedup.embedDup]], shared across the graph family) — its
    * components reach size ~8 with genuine interior nodes, so the
    * measure is exercised, where the 3-gram graph's 2-cliques would
    * make every stress trivially 0. Sources are sampled (vec_id %
    * m == 0, m priced per corpus by [[stressRootModulus]] — the
    * standard Brandes-subset estimator shape with the subset SIZE now
    * adaptive; test scales keep the historical m = 2); hop cap 6 on
    * BOTH passes (diameters here are far below it, so this is the full
    * closure; the cap is part of the contract and mirrored in the
    * oracle, as is the modulus census).
    *
    * Pass 1 (forward, per root): BFS levels with path counts —
    * σ(v) = Σ_{u ∈ preds(v)} σ(u), preds = neighbors one level up.
    * Pass 2 (backward, by descending level): downstream path totals —
    * P(v) = Σ_{w ∈ DAG-succ(v)} (1 + P(w)) (each succ contributes the
    * path ending at w plus its extensions). Then stress(v) =
    * Σ_roots σ_root(v) · P_root(v) over non-root rows, exactly the
    * number of shortest root→t paths with v interior.
    *
    * Scale shape: state is (root, node, level) rows — sampled-roots ×
    * reachable-set, the Brandes-subset working set; every round is one
    * equi-join against the stationary edge list + one partial-agg
    * shuffle, `localCheckpoint` per level keeps the plan flat (the CC
    * lesson), and the loop exits as soon as a frontier empties. Path
    * counts fit Long by orders of magnitude on banded near-dup graphs
    * (cluster diameters are tiny); a pathological 2⁶³-path graph would
    * need the DECIMAL widening documented at [[Similarity]]'s Gram
    * kernel, not a different plan. */
  def stress(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.embedDup(s, d)
      .select(col("vec_a").cast("long").as("a"), col("vec_b").cast("long").as("b"))
    val m = stressRootModulus(pairs)
    stressFromPairs(pairs, maxHops = 6, seed = _ % m === 0)
      .select(col("id").as("vec_id"), col("stress"))
      .orderBy("vec_id")
  }

  /** ADAPTIVE ROOT SAMPLING (r8's "sampled-source count adapts to
    * component mass", priced before the walk): multi-source BFS state
    * is bounded above by seeds·n_nodes (the one-giant-component worst
    * case — conservative by design, so the walk fits
    * [[graft.GraftConf.bfsStateTarget]] BY CONSTRUCTION and the hard
    * [[graft.GraftConf.maxBfsStateRows]] throw becomes a never-fires
    * backstop). One census pass computes n_nodes and the exact seed
    * count at every [[graft.GraftConf.stressRootModuli]] rung; the
    * smallest fitting modulus wins (top rung as fallback). At the
    * driver's test scales the bound is ~10³–10⁵ so m stays 2 — the
    * historical seed set — while the 10× noise-floor corpus sizes
    * itself down instead of DNF-ing. The SQL twin replays the same
    * census + selection, keeping the root set cross-engine exact. */
  private[graft] def stressRootModulus(pairs: DataFrame): Long = {
    val nodes = pairs.select(col("a").as("id")).union(pairs.select(col("b").as("id"))).distinct()
    val ms = graft.GraftConf.stressRootModuli
    val aggs = count(lit(1)).as("n") +:
      ms.map(m => sum(when(col("id") % m === 0, 1L).otherwise(0L)).as(s"s$m"))
    val r = nodes.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    // empty graph → sums are null; any modulus is vacuously fine
    def seeds(i: Int): Long = if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)
    ms.zipWithIndex
      .find { case (_, i) => seeds(i) * n <= graft.GraftConf.bfsStateTarget }
      .map(_._1).getOrElse(ms.last)
  }

  private[graft] def stressFromPairs(pairsDf: DataFrame, maxHops: Int,
      seed: Column => Column): DataFrame = {
    val pairs = pairsDf.localCheckpoint() // keep: reuse
    val edges = undirected(pairs).localCheckpoint() // keep: reuse
    val nodes = edges.select(col("src").as("id")).distinct().localCheckpoint() // keep: reuse
    // ADJACENCY-LIST FRONTIER (r10, the r9 verdict's #2): the 12
    // per-level joins used to re-shuffle the EDGE list every round
    // (frontier ⋈ edges on src exchanges both sides — the 10× probe
    // measured 0.7 MB → 2.7 GB total shuffle and ~10.6 GB of sort
    // spill from exactly this). The edge list is now grouped ONCE
    // into (src, nbrs[]) — the groupBy already leaves it
    // hash-partitioned on src, and persisting keeps that layout, so
    // every round's join exchanges only the FRONTIER (state-sized,
    // not edge-sized) or broadcasts outright when the adjacency table
    // is small; neighbor expansion happens narrow-side via explode
    // into the same partial-aggregated (root, id) shuffle as before.
    // Pure plan reshape — row-for-row identical sums, same oracle.
    val adj = edges.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    // materialize NOW so the cached relation carries ACCURATE size
    // stats: on the 10×-probe graph the adjacency table is a few MB
    // and the planner then BROADCASTS it (every round's join becomes
    // shuffle-free); unmaterialized, the estimate comes from the
    // checkpointed union and the join falls back to a sort-merge that
    // re-sorts the frontier every level
    adj.count()
    // forward: reached(root, id, sigma, lvl); level-k frontier rows are
    // exactly the dist-k nodes, so "preds" is just the previous frontier.
    // r13: per-level frontiers are kept as a LIST of checkpointed frames
    // and `reached` is their lazy union — the old per-round
    // `reached.unionByName(frontier).localCheckpoint()` re-materialized
    // the ENTIRE cumulative state every level (O(levels²) rows written)
    // for data that was already in checkpointed blocks.
    var levels = List(nodes.filter(seed(col("id")))
      .select(col("id").as("root"), col("id"), lit(1L).as("sigma"), lit(0).as("lvl"))
      .localCheckpoint()) // keep: round
    def reached: DataFrame = levels.reduce(_ unionByName _)
    var frontier = levels.head
    var k = 1
    var topLvl = 0
    // multi-source BFS state is roots × reachable — on a similarity
    // graph whose threshold sits in the unrelated-pair cosine tail,
    // edges grow ~n²·p, components coalesce, and the state goes
    // quadratic (the round-8 10× scale probe measured 0.7 MB → 1 GB
    // shuffle and a DNF from exactly this). Budget the cumulative
    // state and THROW with retuning guidance rather than grind.
    var stateRows = 0L
    var frontierRows = 1L
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the rounds (Shared.withLoopParallelism rationale)
    val nEdgeRows = edges.count()
    Shared.withLoopParallelism(pairsDf.sparkSession, nEdgeRows) {
    while (k <= maxHops && frontierRows > 0) {
      val cand = frontier.select(col("root"), col("id").as("src"), col("sigma"))
        .join(adj, "src")
        .select(col("root"), col("sigma"), explode(col("nbrs")).as("id"))
        .groupBy(col("root"), col("id"))
        .agg(sum("sigma").as("sigma"))
      frontier = cand
        .join(reached.select("root", "id"), Seq("root", "id"), "left_anti")
        .withColumn("lvl", lit(k))
        .localCheckpoint() // keep: round
      frontierRows = frontier.count()
      stateRows += frontierRows
      if (stateRows > graft.GraftConf.maxBfsStateRows)
        throw new IllegalStateException(
          s"stress: multi-source BFS state passed $stateRows rows " +
            s"(cap ${graft.GraftConf.maxBfsStateRows}) — the similarity graph is " +
            "noise-floor dense at this threshold; raise the cosine threshold or " +
            "sample the root set")
      if (frontierRows > 0) { levels = levels :+ frontier; topLvl = k }
      k += 1
    }
    } // withLoopParallelism (forward)
    // backward: P(root, v) = Σ_{succ w one level down} (1 + P(root, w)).
    // r13: per-level P frames are checkpointed individually and unioned
    // lazily at the end (same rationale as the forward pass — the old
    // cumulative pAll re-checkpoint rewrote every earlier level's rows
    // each round); each level's join reads the PREVIOUS level's frame
    // directly instead of filtering it back out of the accumulated union.
    // levels are appended strictly in level order (the loop stops at the
    // first empty frontier), so list index == lvl — no action needed
    val byLvl: Map[Int, DataFrame] = levels.zipWithIndex.map(_.swap).toMap
    var pPrev = byLvl(topLvl)
      .select(col("root"), col("id"), lit(0L).as("p"), col("lvl"))
      .localCheckpoint() // keep: round
    var pLevels = List(pPrev)
    Shared.withLoopParallelism(pairsDf.sparkSession, nEdgeRows) {
    for (lv <- (topLvl - 1) to 0 by -1) {
      val pNext = pPrev.select(col("root"), col("id").as("dst"), col("p").as("pw"))
      val succSum = byLvl(lv)
        .select(col("root"), col("id").as("src"))
        .join(adj, "src")
        .select(col("root"), col("src"), explode(col("nbrs")).as("dst"))
        .join(pNext, Seq("root", "dst"))
        .groupBy(col("root"), col("src").as("id"))
        .agg(sum(col("pw") + 1L).as("psum"))
      val pk = byLvl(lv).select("root", "id")
        .join(succSum, Seq("root", "id"), "left")
        .select(col("root"), col("id"), coalesce(col("psum"), lit(0L)).as("p"),
          lit(lv).as("lvl"))
        .localCheckpoint() // keep: round
      pLevels = pLevels :+ pk
      pPrev = pk
    }
    } // withLoopParallelism (backward)
    val pAll = pLevels.reduce(_ unionByName _)
    // both passes are checkpointed — nothing downstream reads adj
    adj.unpersist(blocking = false)
    val contrib = reached.filter(col("lvl") > 0)
      .join(pAll.select("root", "id", "p"), Seq("root", "id"))
      .groupBy("id").agg(sum(col("sigma") * col("p")).as("stress"))
    nodes.join(contrib, Seq("id"), "left")
      .select(col("id"), coalesce(col("stress"), lit(0L)).as("stress"))
  }

  /** SQL twin: identical per-root BFS-DAG double pass, unrolled 6
    * levels each way (the [[bfsSql]] unroll discipline — DuckDB
    * re-inlines non-MATERIALIZED CTE references, and recursive members
    * cannot aggregate). */
  val stressSql: String = {
    val H = 6
    val distRounds = (1 to H).map { k =>
      s"""dd$k AS MATERIALIZED (
         |  SELECT root, id, min(dist) AS dist FROM (
         |    SELECT root, id, dist FROM dd${k - 1}
         |    UNION ALL
         |    SELECT p.root, e.dst AS id, p.dist + 1
         |    FROM edges e JOIN dd${k - 1} p ON e.src = p.id
         |  ) GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(", ")
    val sigRounds = (1 to H).map { k =>
      s"""sg$k AS MATERIALIZED (
         |  SELECT s.root, dv.id, CAST(sum(s.sigma) AS BIGINT) AS sigma, $k AS lvl
         |  FROM sg${k - 1} s
         |  JOIN edges e ON e.src = s.id
         |  JOIN dist dv ON dv.root = s.root AND dv.id = e.dst AND dv.dist = $k
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(", ")
    val pRounds = (H - 1) to 0 by -1 map { lv =>
      s"""pp$lv AS MATERIALIZED (
         |  SELECT v.root, v.id,
         |    CAST(coalesce(sum(w.p + 1), 0) AS BIGINT) AS p, $lv AS lvl
         |  FROM (SELECT root, id FROM sig WHERE lvl = $lv) v
         |  LEFT JOIN edges e ON e.src = v.id
         |  LEFT JOIN pp${lv + 1} w ON w.root = v.root AND w.id = e.dst
         |  GROUP BY 1, 2
         |)""".stripMargin
    } mkString ", "
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS id FROM edges
       |), mseed AS (
       |  SELECT m, CAST(count(*) FILTER (WHERE id % m = 0) AS BIGINT) AS seeds,
       |    CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM nodes, (SELECT unnest([${graft.GraftConf.stressRootModuli.mkString(", ")}]) AS m)
       |  GROUP BY m
       |), mm AS MATERIALIZED (
       |  SELECT coalesce(min(CASE WHEN seeds * n_nodes <= ${graft.GraftConf.bfsStateTarget}
       |                      THEN m END), ${graft.GraftConf.stressRootModuli.last}) AS m
       |  FROM mseed
       |), dd0 AS MATERIALIZED (
       |  SELECT id AS root, id, 0 AS dist FROM nodes WHERE id % (SELECT m FROM mm) = 0
       |), $distRounds, dist AS MATERIALIZED (
       |  SELECT root, id, dist FROM dd$H
       |), sg0 AS MATERIALIZED (
       |  SELECT id AS root, id, CAST(1 AS BIGINT) AS sigma, 0 AS lvl
       |  FROM nodes WHERE id % (SELECT m FROM mm) = 0
       |), $sigRounds, sig AS MATERIALIZED (
       |  ${(0 to H).map(k => s"SELECT root, id, sigma, lvl FROM sg$k").mkString("\n  UNION ALL\n  ")}
       |), pp$H AS MATERIALIZED (
       |  SELECT root, id, CAST(0 AS BIGINT) AS p, $H AS lvl FROM sig WHERE lvl = $H
       |), $pRounds, pall AS MATERIALIZED (
       |  ${(0 to H).map(k => s"SELECT root, id, p FROM pp$k").mkString("\n  UNION ALL\n  ")}
       |), contrib AS MATERIALIZED (
       |  SELECT sg.id, CAST(sum(sg.sigma * pa.p) AS BIGINT) AS stress
       |  FROM sig sg JOIN pall pa ON pa.root = sg.root AND pa.id = sg.id
       |  WHERE sg.lvl > 0 GROUP BY 1
       |)
       |SELECT n.id AS vec_id, CAST(coalesce(c.stress, 0) AS BIGINT) AS stress
       |FROM nodes n LEFT JOIN contrib c ON c.id = n.id
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- deterministic walks

  /** DEEPWALK CORPUS GENERATION — the graph-embedding bridge: truncated
    * random walks over the embedding near-dup graph, reduced to the
    * window-2 skip-gram co-occurrence counts that are word2vec's input
    * (DeepWalk/node2vec = walks + word2vec; the engine's product is the
    * walk corpus, the trainer is downstream). Walks are DETERMINISTIC:
    * each walk seeds a 31-bit LCG with the djb2 of its walk key
    * ("<node>#<replica>"), and step t moves to
    * `nbrs[x_t mod deg]` over the SORTED neighbor list, x_t the LCG
    * stream — per-walk RNG exactly as production walkers do it, but
    * with the seed pinned so the corpus is bit-identical across
    * engines, partitionings and reruns (no RNG state, the [[Pipeline]]
    * p_split discipline). 2 replicas × 8 steps per node.
    *
    * Scale shape: the frontier frame is (walks × 1) rows carrying the
    * walk path as a bounded array; each step is ONE broadcast join
    * against the adjacency table (nodes-sized, persisted once).
    * Walk count scales linearly with nodes and the pair explode is
    * walks × window — never quadratic in the graph. At 10⁹ nodes the
    * same plan holds with the adjacency bucketed instead of broadcast.
    * Hub nodes don't skew: every walk row is the same width regardless
    * of degree (element_at into the neighbor list, no neighbor
    * explode). */
  def walks(s: SparkSession, d: String): DataFrame = {
    val L = 8
    val pairs = Dedup.embedDup(s, d)
      .select(col("vec_a").cast("long").as("a"), col("vec_b").cast("long").as("b"))
      .localCheckpoint() // keep: reuse
    val edges = undirected(pairs)
    val adj = edges.groupBy("src")
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      .withColumn("deg", size(col("nbrs")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // keep: reuse
    val seeds = adj.select(col("src").as("node"))
      .crossJoin(broadcast(s.range(0, 2).select(col("id").cast("int").as("r"))))
      .select(col("node"), col("r"),
        graft.functions.Djb2.djb2_hash(
          concat(col("node").cast("string"), lit("#"), col("r").cast("string")))
          .bitwiseAND(lit(2147483647L)).as("x"),
        array(col("node")).as("path"))
    var walk = seeds.localCheckpoint() // keep: round
    // loop partitions from the measured walker count, AQE's per-stage
    // jobs off for the steps (Shared.withLoopParallelism); the adjacency
    // side stays a broadcast, so steps are shuffle-free either way
    Shared.withLoopParallelism(s, walk.count()) {
      for (_ <- 1 to L) {
        walk = walk
          .withColumn("x", pmod(col("x") * 1664525L + 1013904223L, lit(2147483648L)))
          .join(broadcast(adj),
            col("src") === element_at(col("path"), -1))
          .withColumn("path",
            concat(col("path"),
              array(element_at(col("nbrs"), (pmod(col("x"), col("deg"))).cast("int") + 1))))
          .select("node", "r", "x", "path")
          .localCheckpoint() // keep: round
      }
    }
    val pos = walk
      .select(col("node"), col("r"), posexplode(col("path")).as(Seq("pos", "v")))
    val a = pos.select(col("node"), col("r"), col("pos").as("pa"), col("v").as("va"))
    val b = pos.select(col("node"), col("r"), col("pos").as("pb"), col("v").as("vb"))
    a.join(b, Seq("node", "r"))
      .filter(col("pb") > col("pa") && col("pb") - col("pa") <= 2 && col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as("node_a"),
        greatest(col("va"), col("vb")).as("node_b"))
      .groupBy("node_a", "node_b").agg(count(lit(1)).as("n_cooc"))
      .orderBy("node_a", "node_b")
  }

  /** SQL twin: djb2 seeds ([[OracleCtes.djb2Sql]] of the walk key), then
    * 8 unrolled LCG steps over the same sorted adjacency lists, then the
    * identical window-2 pair aggregation. */
  val walksSql: String = {
    val L = 8
    val steps = (1 to L).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.node, w.r, (w.x * 1664525 + 1013904223) % 2147483648 AS x,
         |    list_append(w.path,
         |      a.nbrs[CAST(((w.x * 1664525 + 1013904223) % 2147483648) % a.deg AS INT) + 1])
         |      AS path
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.path[len(w.path)]
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.embedPairsCtes(0.4)}, edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), adj AS MATERIALIZED (
       |  SELECT src, list(dst ORDER BY dst) AS nbrs, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY src
       |), sk AS MATERIALIZED (
       |  SELECT src AS node, r, CAST(src AS VARCHAR) || '#' || CAST(r AS VARCHAR) AS key
       |  FROM adj, (SELECT unnest([0, 1]) AS r)
       |), w0 AS MATERIALIZED (
       |  SELECT node, r, CAST(${OracleCtes.djb2Sql("key")} % 2147483648 AS BIGINT) AS x, [node] AS path
       |  FROM sk
       |), $steps, pos AS MATERIALIZED (
       |  SELECT node, r, u.pos AS pos, u.v AS v FROM (
       |    SELECT node, r,
       |      unnest(list_transform(path, (el, i) -> struct_pack(pos := i, v := el))) AS u
       |    FROM w$L)
       |)
       |SELECT least(a.v, b.v) AS node_a, greatest(a.v, b.v) AS node_b,
       |  count(*) AS n_cooc
       |FROM pos a JOIN pos b
       |  ON a.node = b.node AND a.r = b.r AND b.pos > a.pos AND b.pos - a.pos <= 2
       |  AND a.v <> b.v
       |GROUP BY 1, 2 ORDER BY node_a, node_b""".stripMargin
  }

  // -------------------------------------------------------------- HITS

  /** HITS (Kleinberg hubs & authorities) over the DIRECTED near-dup
    * graph (edges low→high doc_id — the canonical orientation every
    * pair table already carries), 2 full mutual-reinforcement rounds:
    * a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v). UNNORMALIZED integer
    * variant: per-round normalization is one GLOBAL scalar, so at any
    * fixed round count the unnormalized scores rank IDENTICALLY to
    * textbook HITS — and exact Long sums are bit-portable where the
    * normalized floats are not (the [[pagerank]] integer-micros
    * argument, stronger: no division at all). Two rounds ≡ one
    * A^T·A / A·A^T application — the co-citation/co-reference
    * strengths link analysis reads. Each half-round is one equi-join
    * of the stationary edge list against a (node, score) table + one
    * partial-agg shuffle; growth is bounded by (max degree)² per
    * round pair, ~10⁴ per round at corpus degree scales — Long-safe
    * by ~15 orders of magnitude. */
  def hits(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .localCheckpoint() // keep: reuse
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    var hub = nodes.withColumn("h", lit(1L))
    var auth: DataFrame = null
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the rounds (Shared.withLoopParallelism)
    Shared.withLoopParallelism(s, edges.count()) {
      for (_ <- 1 to 2) {
        auth = edges.join(hub.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum("h").as("a"))
        auth = nodes.join(auth, Seq("id"), "left")
          .select(col("id"), coalesce(col("a"), lit(0L)).as("a")).localCheckpoint() // keep: round
        hub = edges.join(auth.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum("a").as("h"))
        hub = nodes.join(hub, Seq("id"), "left")
          .select(col("id"), coalesce(col("h"), lit(0L)).as("h")).localCheckpoint() // keep: round
      }
    }
    nodes.join(hub, "id").join(auth, "id")
      .select(col("id").as("doc_id"), col("h").as("hub"), col("a").as("authority"))
      .orderBy("doc_id")
  }

  /** SQL twin: 2 unrolled mutual-reinforcement rounds over the same
    * directed pair list. */
  val hitsSql: String = {
    val rounds = (1 to 2).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT n.id, CAST(coalesce(sum(h.h), 0) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN pairs e ON e.pb = n.id
         |  LEFT JOIN h${r - 1} h ON h.id = e.pa
         |  GROUP BY n.id
         |), h$r AS MATERIALIZED (
         |  SELECT n.id, CAST(coalesce(sum(a.a), 0) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN pairs e ON e.pa = n.id
         |  LEFT JOIN a$r a ON a.id = e.pb
         |  GROUP BY n.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (SELECT pa AS id FROM pairs UNION ALL SELECT pb FROM pairs)
       |), h0 AS MATERIALIZED (
       |  SELECT id, CAST(1 AS BIGINT) AS h FROM nodes
       |), $rounds
       |SELECT n.id AS doc_id, h2.h AS hub, a2.a AS authority
       |FROM nodes n JOIN h2 ON h2.id = n.id JOIN a2 ON a2.id = n.id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- k-truss

  /** K-TRUSS decomposition (k = 3) — EDGE-level cohesion, the
    * community-core filter [[kcore]]'s node-level peeling can't
    * express: an edge survives iff it closes at least k−2 triangles
    * among SURVIVING edges, so bridges and stringy tendrils peel away
    * even when both endpoints have high degree. Runs on the cosine ≥
    * 0.3 embedding graph (the 0.4 near-dup graph is triangle-sparse —
    * 2 triangles at sf0.01 — while 0.3 carries a real truss: 193 of
    * 990 edges survive); 0.3 is the SEMANTIC FLOOR — the noise-floor
    * audit may lift the effective threshold out of the unrelated-pair
    * cosine tail ([[Similarity.effectiveThreshold]], twin-replayed, so
    * the lift is oracle-exact; at the driver's test scales nothing
    * lifts). Edges come from the SAME provably-complete candidate
    * machinery as [[Dedup.embedDup]] (cell-blocked, or the priced
    * block-brute verify when the prune is void), never an unbounded
    * all-pairs join. FIXED 4 synchronous peeling rounds on both
    * engines (round count is part of the contract) + a `converged`
    * certificate column — true iff the last round removed nothing, so
    * a graph needing more rounds is visible, not silently truncated
    * (measured: converges in 2).
    *
    * Per round: support(a,b) = |N(a) ∩ N(b)| via the ordered
    * wedge equi-join (edge ⋈ adjacency on each endpoint, count by
    * edge — the [[triangles]] discipline, work ∝ Σ deg(u)·deg(w) over
    * edges, never n²), then one filter. localCheckpoint per round
    * keeps the loop's plan flat. Output: surviving edges with their
    * in-truss support. */
  def ktruss(s: SparkSession, d: String): DataFrame = {
    val k = 3
    val rounds = 4
    // 0.3 is the semantic floor; auto-lifted out of the noise floor by
    // the same measured selection as [[cliques4]] (twin replays it)
    val t = Similarity.effectiveThreshold(s, d, requested = 0.3)
    var edges = Dedup.embedPairsMemo(s, d, t)
      .select(col("vec_a").cast("long").as("a"), col("vec_b").cast("long").as("b"))
      .localCheckpoint() // keep: reuse
    // rounds only shrink the edge set, so round 1's price bounds them all
    priceWedges(edges, "g_ktruss")
    def supports(e: DataFrame): DataFrame = {
      val adj = e.select(col("a").as("u"), col("b").as("w"))
        .union(e.select(col("b").as("u"), col("a").as("w")))
      e.join(adj.select(col("u").as("a"), col("w").as("c")), "a")
        .join(adj.select(col("u").as("b"), col("w").as("c")), Seq("b", "c"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
    }
    var prevN = -1L
    var lastN = edges.count()
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the peeling rounds (Shared.withLoopParallelism)
    Shared.withLoopParallelism(s, lastN) {
      for (_ <- 1 to rounds) {
        edges = edges.join(supports(edges), Seq("a", "b"), "left")
          .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
          .select("a", "b").localCheckpoint() // keep: round
        prevN = lastN; lastN = edges.count()
      }
    }
    edges.join(supports(edges).withColumnRenamed("sup", "support"), Seq("a", "b"), "left")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        coalesce(col("support"), lit(0L)).as("support"),
        lit(prevN == lastN).as("converged"))
      .orderBy("node_a", "node_b")
  }

  /** SQL twin: 4 unrolled peeling rounds of the identical wedge-count
    * + filter, converged = |E₃| = |E₄|. */
  val ktrussSql: String = {
    val rounds = (1 to 4).map { r =>
      s"""adj${r - 1} AS MATERIALIZED (
         |  SELECT pa AS u, pb AS w FROM e${r - 1} UNION ALL SELECT pb, pa FROM e${r - 1}
         |), sup$r AS MATERIALIZED (
         |  SELECT e.pa, e.pb, count(*) AS n
         |  FROM e${r - 1} e
         |  JOIN adj${r - 1} x ON x.u = e.pa
         |  JOIN adj${r - 1} y ON y.u = e.pb AND y.w = x.w
         |  GROUP BY 1, 2
         |), e$r AS MATERIALIZED (
         |  SELECT e.pa, e.pb FROM e${r - 1} e
         |  LEFT JOIN sup$r s ON s.pa = e.pa AND s.pb = e.pb
         |  WHERE coalesce(s.n, 0) >= 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.embedPairsCtes(0.3)}, e0 AS MATERIALIZED (
       |  SELECT pa, pb FROM pairs
       |), $rounds, adj4 AS MATERIALIZED (
       |  SELECT pa AS u, pb AS w FROM e4 UNION ALL SELECT pb, pa FROM e4
       |), supf AS MATERIALIZED (
       |  SELECT e.pa, e.pb, CAST(count(*) AS BIGINT) AS n
       |  FROM e4 e
       |  JOIN adj4 x ON x.u = e.pa
       |  JOIN adj4 y ON y.u = e.pb AND y.w = x.w
       |  GROUP BY 1, 2
       |)
       |SELECT e.pa AS node_a, e.pb AS node_b,
       |  CAST(coalesce(s.n, 0) AS BIGINT) AS support,
       |  (SELECT count(*) FROM e3) = (SELECT count(*) FROM e4) AS converged
       |FROM e4 e LEFT JOIN supf s ON s.pa = e.pa AND s.pb = e.pb
       |ORDER BY node_a, node_b""".stripMargin
  }

  // ---------------------------------------------------------- rich club

  /** RICH-CLUB coefficient φ(k) for k = 0..4 — "do the hubs talk to
    * each other?", the hub-interconnectivity census [[assortativity]]'s
    * single correlation number can't localize: for each degree
    * threshold k, restrict to nodes with degree > k and measure the
    * realized fraction of possible edges among them, φ(k) =
    * 2·E_k / (N_k·(N_k−1)). Exact integer numerator/denominator are
    * emitted beside the one rounded IEEE division (the [[modularity]]
    * exactness discipline), so the hash gate pins the counts, not a
    * float. Plan shape: one degree aggregate, then the 5-row threshold
    * table broadcasts against edges (each edge keeps the thresholds
    * BOTH endpoint degrees clear — ≤5× edge fan-out, never quadratic)
    * and against the degree table for node counts; no self-join, no
    * per-k rescan of the pair derivation (shared via the memoized
    * verified pair table). At 100 TB the degree table is the corpus'
    * near-dup profile — millions of rows, broadcast-sized thresholds. */
  def richClub(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint() // keep: reuse
    val deg = pairs.select(col("a").as("id")).union(pairs.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ks = s.range(0, 5).select(col("id").cast("int").as("k"))
    val nodesK = deg.crossJoin(broadcast(ks)).filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val edgesK = pairs
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
      .crossJoin(broadcast(ks))
      .filter(col("deg_a") > col("k") && col("deg_b") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    nodesK.join(edgesK, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        when(col("n_nodes") >= 2,
          ExactRound.r(lit(2.0) * coalesce(col("n_edges"), lit(0L)) /
            (col("n_nodes").cast("double") * (col("n_nodes") - lit(1L)).cast("double")), 6))
          .as("phi"))
      .orderBy("k")
  }

  /** SQL twin: identical threshold fan-out over the same pair graph. */
  val richClubSql: String =
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, deg AS MATERIALIZED (
       |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT pa AS id FROM pairs UNION ALL SELECT pb FROM pairs)
       |  GROUP BY id
       |), ks AS (SELECT unnest([0, 1, 2, 3, 4]) AS k
       |), nk AS MATERIALIZED (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM deg, ks WHERE deg > k GROUP BY k
       |), ek AS MATERIALIZED (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM pairs p
       |  JOIN deg da ON da.id = p.pa
       |  JOIN deg db ON db.id = p.pb, ks
       |  WHERE da.deg > k AND db.deg > k GROUP BY k
       |)
       |SELECT nk.k, nk.n_nodes, CAST(coalesce(ek.n_edges, 0) AS BIGINT) AS n_edges,
       |  CASE WHEN nk.n_nodes >= 2 THEN ${ExactRound.rSql(
             "2.0 * coalesce(ek.n_edges, 0) / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1))", 6)}
       |  END AS phi
       |FROM nk LEFT JOIN ek ON ek.k = nk.k
       |ORDER BY nk.k""".stripMargin

  // --------------------------------------------------------- 4-cliques

  /** 4-CLIQUE (K₄) census per node — the next graphlet up from
    * [[triangles]], and the feature graph-ML pipelines actually count
    * (graphlet degree vectors): a node's K₄ membership separates
    * "dense template family" (many K₄s) from "triangle-rich but
    * hollow" neighborhoods that triangle counts alone can't tell
    * apart. Runs on the cosine ≥ 0.25 embedding graph (one notch below
    * [[ktruss]]'s 0.3 — measured: 0.3 carries 71 triangles but ZERO
    * K₄s at sf0.01, 0.25 carries 50, so 0.25 is the first non-vacuous
    * threshold; the certificate must certify something). 0.25 is the
    * semantic FLOOR: the noise-floor audit lifts the effective
    * threshold when 0.25 sits inside the unrelated-pair cosine tail
    * ([[Similarity.effectiveThreshold]], replayed by the twin — the
    * 10× probe lifts to 0.4 and completes in 13 s where r8 OOM'd at
    * 109 GB; test scales never lift). Enumeration
    * is the ordered extension join: each triangle (a < b < c) extends
    * by d > c adjacent to ALL THREE — every K₄ counted exactly once,
    * work ∝ triangles × max-degree (the standard ordered-enumeration
    * envelope, never n²); per-node counts fall out of one explode +
    * partial agg. Output: nodes with ≥1 K₄ and the global census as a
    * cross-checkable total (each clique contributes exactly 4
    * memberships — the spec's conservation law). */

  /** DENSITY GUARD for the triangle family: PRICE the ordered wedge
    * join from the degree table (Σ d·(d−1)/2 — one aggregate, no pair
    * materialized; the d_width_sweep discipline) and THROW when it
    * exceeds [[graft.GraftConf.maxWedges]]. Triangle/clique work on a
    * similarity graph is only tractable when the graph is SPARSE; a
    * cosine threshold inside the unrelated-pair noise floor makes
    * edges ~n²·p and wedges ~n·d̄² — the round-8 10× scale probe
    * measured 109 GB of shuffle and a DNF from exactly this, so the
    * operator now fails loudly with retuning guidance (raise the
    * threshold out of the noise floor, or k-core–prune first) instead
    * of silently grinding the cluster. */
  private def priceWedges(edges: DataFrame, who: String): Unit = {
    // coalesce: an EMPTY edge set (a threshold above every planted
    // pair — the x100 banded graph) sums to NULL, and pricing zero
    // wedges must pass, not throw (r10 probe finding)
    val priced = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("dg"))
      .agg(coalesce(sum(col("dg") * (col("dg") - 1) / 2).cast("long"), lit(0L)))
      .head().getLong(0)
    if (priced > graft.GraftConf.maxWedges)
      throw new IllegalStateException(
        s"$who: wedge join priced at $priced rows (cap ${graft.GraftConf.maxWedges}) — " +
          "the similarity graph is noise-floor dense at this threshold; raise the cosine " +
          "threshold above the unrelated-pair tail or k-core-prune the graph first")
  }

  def cliques4(s: SparkSession, d: String): DataFrame = {
    // SCALE-SAFE THRESHOLD: 0.25 is the semantic floor (first
    // non-vacuous rung on the test corpus); the noise-floor audit may
    // LIFT it out of the unrelated-pair cosine tail before any edge is
    // materialized (Similarity.effectiveThreshold — r8's priced throw
    // turned into an execution path; the SQL twin replays the same
    // selection, so the lifted threshold stays oracle-exact at every
    // scale). priceWedges stays as the measured-degree backstop.
    val t = Similarity.effectiveThreshold(s, d, requested = 0.25)
    val edges = Dedup.embedPairsMemo(s, d, t)
      .select(col("vec_a").cast("long").as("a"), col("vec_b").cast("long").as("b"))
      .localCheckpoint() // keep: reuse
    priceWedges(edges, "g_cliques4")
    // triangles a < b < c via the ordered wedge join (edges carry a < b)
    val tri = edges
      .join(edges.select(col("a").as("b"), col("b").as("c")), "b")
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    // extend by d > c adjacent to all three — d > c > b > a means every
    // edge to d keeps the (low, high) orientation, so plain equi-joins
    val k4 = tri
      .join(edges.select(col("a"), col("b").as("d")), "a")
      .join(edges.select(col("a").as("b"), col("b").as("d")), Seq("b", "d"))
      .join(edges.select(col("a").as("c"), col("b").as("d")), Seq("c", "d"))
      .select(col("a"), col("b"), col("c"), col("d"))
      .localCheckpoint() // keep: reuse
    Seq("a", "b", "c", "d")
      .map(x => k4.select(col(x).as("vec_id")))
      .reduce(_ unionAll _)
      .groupBy("vec_id").agg(count(lit(1)).as("n_cliques4"))
      .orderBy("vec_id")
  }

  /** SQL twin: identical ordered triangle + extension joins on the
    * same auto-thresholded graph (effTCtes replays the ladder pick). */
  val cliques4Sql: String = {
    s"""WITH ${OracleCtes.embedPairsCtes(0.25)}, e AS MATERIALIZED (
       |  SELECT pa AS a, pb AS b FROM pairs
       |), tri AS MATERIALIZED (
       |  SELECT ab.a, ab.b, bc.b AS c
       |  FROM e ab JOIN e bc ON bc.a = ab.b
       |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
       |), k4 AS MATERIALIZED (
       |  SELECT t.a, t.b, t.c, ad.b AS d
       |  FROM tri t
       |  JOIN e ad ON ad.a = t.a
       |  JOIN e bd ON bd.a = t.b AND bd.b = ad.b
       |  JOIN e cd ON cd.a = t.c AND cd.b = ad.b
       |)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_cliques4 FROM (
       |  SELECT a AS vec_id FROM k4 UNION ALL SELECT b FROM k4
       |  UNION ALL SELECT c FROM k4 UNION ALL SELECT d FROM k4
       |) GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- greedy coloring

  /** DISTRIBUTED GREEDY COLORING via Luby-style maximal-independent-set
    * rounds — the conflict-scheduling primitive (register allocation,
    * parallel-update batching, mutex-free graph processing) the family
    * lacks: in round r, an uncolored node joins color class r iff its
    * per-round priority beats every UNCOLORED neighbor's — each round's
    * winner set is independent by construction, and re-randomizing the
    * priority per round (Luby'86) gives expected O(log n) rounds where
    * a static priority degrades to the longest priority-descending
    * path. Priorities are engine-portable pseudo-randomness: the djb2
    * expression over "r#node" keys (the [[walks]] discipline) packed
    * with the node id as tie-break, so every comparison is strict and
    * both engines pick identical winner sets. FIXED 4 synchronous
    * rounds + a `converged` certificate column (TRUE iff nothing was
    * left uncolored — the honest cap the [[ktruss]] contract uses);
    * uncolored survivors carry color −1. Per round: one equi-join of
    * the shrinking active edge list against the priority table + one
    * partial-agg max — work ∝ active edges, never n². */
  def coloring(s: SparkSession, d: String): DataFrame = {
    val rounds = 4
    val pairs = Dedup.ngramJaccard(s, d)
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .localCheckpoint() // keep: reuse
    val nodes = pairs.select(col("a").as("id"))
      .union(pairs.select(col("b").as("id"))).distinct()
    def prio(r: Int) =
      (graft.functions.Djb2.djb2_hash(
        concat(lit(r.toString), lit("#"), col("id").cast("string")))
        .bitwiseAND(lit(2147483647L)) * 100000000L + col("id")).as("p")
    var active = nodes.localCheckpoint() // keep: round
    var edges = pairs.select(col("a").as("u"), col("b").as("w"))
      .union(pairs.select(col("b").as("u"), col("a").as("w")))
      .localCheckpoint() // keep: round
    var colored = nodes.filter(lit(false))
      .select(col("id"), lit(-1).as("color"))
    // loop partitions from the measured edge count, AQE's per-stage
    // jobs off for the MIS rounds (Shared.withLoopParallelism)
    Shared.withLoopParallelism(s, edges.count()) {
      for (r <- 0 until rounds) {
        val pr = active.select(col("id"), prio(r))
        val nbrMax = edges
          .join(pr.select(col("id").as("w"), col("p").as("pw")), "w")
          .groupBy(col("u").as("id")).agg(max("pw").as("max_nbr"))
        val winners = pr.join(nbrMax, Seq("id"), "left")
          .filter(col("p") > coalesce(col("max_nbr"), lit(-1L)))
          .select("id").localCheckpoint() // keep: round
        colored = colored.union(winners.select(col("id"), lit(r).as("color")))
        active = active.join(winners, Seq("id"), "left_anti").localCheckpoint() // keep: round
        edges = edges
          .join(active.select(col("id").as("u")), "u")
          .join(active.select(col("id").as("w")), "w")
          .select("u", "w").localCheckpoint() // keep: round
      }
    }
    val nUncolored = active.count()
    nodes.join(colored, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("color"), lit(-1)).as("color"),
        lit(nUncolored == 0).as("converged"))
      .orderBy("doc_id")
  }

  /** SQL twin: the same 4 unrolled MIS rounds; priorities from
    * [[OracleCtes.djb2Sql]] over identical "r#node" keys. */
  val coloringSql: String = {
    val rounds = (0 until 4).map { r =>
      s"""ce$r AS MATERIALIZED (
         |  SELECT e.u, e.w FROM sym e
         |  JOIN ca$r x ON x.id = e.u JOIN ca$r y ON y.id = e.w
         |), cm$r AS MATERIALIZED (
         |  SELECT e.u AS id, max(p.p) AS max_nbr
         |  FROM ce$r e JOIN pri p ON p.id = e.w AND p.r = $r
         |  GROUP BY e.u
         |), cw$r AS MATERIALIZED (
         |  SELECT a.id FROM ca$r a
         |  JOIN pri p ON p.id = a.id AND p.r = $r
         |  LEFT JOIN cm$r m ON m.id = a.id
         |  WHERE p.p > coalesce(m.max_nbr, -1)
         |), ca${r + 1} AS MATERIALIZED (
         |  SELECT a.id FROM ca$r a LEFT JOIN cw$r w ON w.id = a.id
         |  WHERE w.id IS NULL
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${OracleCtes.ngramOverlap}, ${OracleCtes.ngramPairs05}, sym AS MATERIALIZED (
       |  SELECT pa AS u, pb AS w FROM pairs UNION ALL SELECT pb, pa FROM pairs
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT u AS id FROM sym
       |), sk AS (
       |  SELECT id, r, CAST(r AS VARCHAR) || '#' || CAST(id AS VARCHAR) AS key
       |  FROM nodes, (SELECT unnest([0, 1, 2, 3]) AS r)
       |), pri AS MATERIALIZED (
       |  SELECT id, r, CAST(${OracleCtes.djb2Sql("key")} % 2147483648 AS BIGINT) * 100000000 + id AS p
       |  FROM sk
       |), ca0 AS MATERIALIZED (SELECT id FROM nodes
       |), $rounds, col AS (
       |  SELECT id, 0 AS color FROM cw0 UNION ALL SELECT id, 1 FROM cw1
       |  UNION ALL SELECT id, 2 FROM cw2 UNION ALL SELECT id, 3 FROM cw3
       |)
       |SELECT n.id AS doc_id, CAST(coalesce(c.color, -1) AS INT) AS color,
       |  (SELECT count(*) FROM ca4) = 0 AS converged
       |FROM nodes n LEFT JOIN col c ON c.id = n.id
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_coloring" -> (coloring _),
    "g_cliques4" -> (cliques4 _),
    "g_richclub" -> (richClub _),
    "g_hits" -> (hits _),
    "g_ktruss" -> (ktruss _),
    "g_walks" -> (walks _),
    "g_stress" -> (stress _),
    "g_scc" -> (scc _),
    "g_wcc_incremental" -> (wccIncremental _),
    "g_modularity" -> (modularity _),
    "g_conductance" -> (conductance _),
    "g_ppr" -> (personalizedPagerank _),
    "g_transitivity" -> (transitivity _),
    "g_assortativity" -> (assortativity _),
    "g_kcore" -> (kcore _),
    "g_degree_stats" -> (degreeStats _),
    "g_community" -> (community _),
    "g_bfs" -> (bfs _),
    "g_eccentricity" -> (eccentricity _),
    "g_mst" -> (mst _),
    "g_widest_path" -> (widestPath _),
    "g_pagerank" -> (pagerank _),
    "g_linkpred" -> (linkpred _),
    "g_triangles" -> (triangles _),
    "g_clustcoef" -> (clustCoef _))

  val oracles: Map[String, String] = Map(
    "g_coloring" -> coloringSql,
    "g_cliques4" -> cliques4Sql,
    "g_richclub" -> richClubSql,
    "g_hits" -> hitsSql,
    "g_ktruss" -> ktrussSql,
    "g_walks" -> walksSql,
    "g_stress" -> stressSql,
    "g_scc" -> sccSql,
    // the incremental path must equal the from-scratch clustering of
    // ALL edges — the full-recompute transitive closure IS its oracle
    "g_wcc_incremental" -> Dedup.dupClustersSql,
    "g_modularity" -> modularitySql,
    "g_conductance" -> conductanceSql,
    "g_ppr" -> personalizedPagerankSql,
    "g_transitivity" -> transitivitySql,
    "g_assortativity" -> assortativitySql,
    "g_kcore" -> kcoreSql,
    "g_degree_stats" -> degreeStatsSql,
    "g_community" -> communitySql,
    "g_bfs" -> bfsSql,
    "g_eccentricity" -> eccentricitySql,
    "g_mst" -> mstSql,
    "g_widest_path" -> widestPathSql,
    "g_pagerank" -> pagerankSql,
    "g_linkpred" -> linkpredSql,
    "g_triangles" -> trianglesSql,
    "g_clustcoef" -> clustCoefSql)
}
