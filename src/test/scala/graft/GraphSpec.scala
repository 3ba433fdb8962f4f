package graft

import graft.operators.{Dedup, Graph}

class GraphSpec extends SparkSpec {

  test("pagerank equals an exact in-memory integer replay of the recurrence") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "generator plants near-dups; pair graph expected")
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nodes = deg.keys.toSeq.sorted
    val n = nodes.size.toLong
    var r = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to 5) {
      val contrib = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (u, v) => contrib(v) += r(u) / deg(u) }
      r = nodes.map(v => v -> (150000L / n + contrib(v) * 17 / 20)).toMap
    }
    val got = Graph.pagerank(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == r,
      s"distributed pagerank diverges from replay on ${got.toSet.diff(r.toSet).take(3)}")
  }

  test("pagerank residual probe: deep chain stops early, ranks within eps of the long run") {
    import spark.implicits._
    // 200-node chain — the deep-diameter shape where a fixed small round
    // count under-iterates. The integer floors never reach residual 0
    // (boundary nodes cycle with amplitude 4 micros — verified by exact
    // replay), so eps is a tolerance: at eps=4 the transient has decayed
    // to the cycle amplitude (~round 30 of a 150 cap) and every rank is
    // within ~eps of the round-150 state.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val (probed, rounds) =
      Graph.pagerankLoopWithRounds(chain, iters = 150, residualEpsMicros = 4L)
    assert(rounds < 50, s"probe never fired early: ran $rounds rounds")
    assert(rounds > 10, s"suspiciously fast convergence ($rounds rounds) for a 200-chain")
    val full = Graph.pagerankLoop(chain, iters = 150)
    val p = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val f = full.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(p.keySet == f.keySet)
    val maxDist = p.keys.map(k => math.abs(p(k) - f(k))).max
    assert(maxDist <= 4L, s"early-stopped ranks $maxDist micros from the long run (> eps)")
  }

  test("pagerank driver query is byte-identical with the probe code in place (eps disabled)") {
    val a = Graph.pagerank(spark, sf).collect().toSeq
    val b = Graph.pagerankLoop(
      Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b"), iters = 5, residualEpsMicros = -1L)
      .select(org.apache.spark.sql.functions.col("id").as("doc_id"),
        org.apache.spark.sql.functions.col("r").as("pr_micros"))
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("pagerankLoop with every node a seed is global PageRank; with a seed subset it is g_ppr") {
    import spark.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the global recurrence replayed in memory: r0 = 1M/n, teleport 150k/n
    val n = 200L
    val deg = (0L until n).map(v => v -> (if (v == 0 || v == n - 1) 1L else 2L)).toMap
    var r = (0L until n).map(_ -> 1000000L / n).toMap
    for (_ <- 1 to 20) {
      val contrib = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      (0L until n - 1).foreach { u =>
        contrib(u + 1) += r(u) / deg(u); contrib(u) += r(u + 1) / deg(u + 1)
      }
      r = (0L until n).map(v => v -> (150000L / n + contrib(v) * 17 / 20)).toMap
    }
    assert(ranks(Graph.pagerankLoop(chain, iters = 20)) == r)
    assert(ranks(Graph.pagerankLoop(chain, iters = 20, isSeed = _ => true)) == r)

    // the personalized recurrence replayed in memory on the sf0.01
    // near-dup graph: S = ids ≡ 0 mod 10, r0 = 1M/|S| and teleport
    // 150k/|S| on seeds, 0 elsewhere, 5 rounds
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").toString
    val pairsDf = Dedup.ngramJaccard(spark, sf01).select("doc_a", "doc_b")
    val edges = pairsDf.collect().flatMap(x => Seq((x.getLong(0), x.getLong(1)), (x.getLong(1), x.getLong(0))))
    val pdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nodes = pdeg.keys.toSeq
    val nS = nodes.count(_ % 10 == 0).toLong
    var pr = nodes.map(v => v -> (if (v % 10 == 0) 1000000L / nS else 0L)).toMap
    for (_ <- 1 to 5) {
      val contrib = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (u, v) => contrib(v) += pr(u) / pdeg(u) }
      pr = nodes.map(v => v -> ((if (v % 10 == 0) 150000L / nS else 0L) + contrib(v) * 17 / 20)).toMap
    }
    val seeded = ranks(Graph.pagerankLoop(pairsDf, iters = 5, isSeed = _ % 10 == 0).select("id", "r"))
    assert(nS > 0 && seeded == pr)
    assert(ranks(Graph.personalizedPagerank(spark, sf01).select("doc_id", "ppr_micros")) == pr)
  }

  test("triangles equals a brute-force in-memory count") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val expected = nodes.map { v =>
      val nb = adj(v).toSeq
      v -> (for {
        i <- nb.indices; j <- (i + 1) until nb.length
        if adj(nb(i)).contains(nb(j))
      } yield 1).size.toLong
    }.toMap
    val got = Graph.triangles(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == expected,
      s"triangle counts diverge: ${got.toSet.diff(expected.toSet).take(3)}")
  }
  test("bfs equals an in-memory multi-source BFS replay") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keys.filter(_ % 10 == 0).toSet
    assert(seeds.nonEmpty, "expected doc_id%10==0 seeds in the pair graph")
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 6) {
      val relaxed = dist.toSeq.flatMap { case (u, du) => adj(u).map(_ -> (du + 1)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    val got = Graph.bfs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hops"))).toMap
    assert(got == dist, s"bfs diverges: ${got.toSet.diff(dist.toSet).take(3)}")
  }

  test("degree stats: histogram and neighbor-degree sums match an in-memory recount") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = edges.groupBy { case (src, _) => deg(src) }.map { case (d, es) =>
      d -> (es.map(_._1).distinct.length.toLong, es.map { case (_, dst) => deg(dst) }.sum)
    }
    val got = Graph.degreeStats(spark, sf).collect()
      .map(r => r.getAs[Long]("degree") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("sum_nbr_deg")))).toMap
    assert(got == expected, s"degree stats diverge: $got vs $expected")
  }

  test("community: labels match an in-memory 3-round clamped mode-propagation replay") {
    val pairs = Dedup.embedDup(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val trueLabels = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val seeds = adj.keys.filter(_ % 5 == 0).map(id => id -> trueLabels(id)).toMap
    var labels = seeds
    for (_ <- 1 to 3) {
      val modes = adj.flatMap { case (id, nbrs) =>
        val votes = nbrs.flatMap(labels.get).groupBy(identity).view.mapValues(_.size)
        if (votes.isEmpty) None
        else Some(id -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1)
      }
      labels = seeds ++ modes.filterNot { case (id, _) => seeds.contains(id) }
    }
    val got = Graph.community(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("pred_label")).toMap
    val expected = adj.keys.map(id => id -> labels.getOrElse(id, -1L)).toMap
    assert(got == expected,
      s"community diverges: ${got.toSet.diff(expected.toSet).take(3)}")
    // propagation reached beyond the seeds
    assert(got.exists { case (id, l) => id % 5 != 0 && l != -1L })
  }

  test("kcore: survives/degree flags match a 4-round synchronous peeling replay") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val allNodes = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    var edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSeq
    var removedInLast = 0L
    for (_ <- 1 to 4) {
      val deg = edges.groupBy(_._1).view.mapValues(_.length).toMap
      val keep = deg.filter(_._2 >= 2).keySet
      val next = edges.filter { case (u, v) => keep(u) && keep(v) }
      removedInLast = edges.length.toLong - next.length.toLong
      edges = next
    }
    val coreDeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val converged = removedInLast == 0L
    val got = Graph.kcore(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("in_2core"), r.getAs[Long]("core_degree"),
          r.getAs[Boolean]("converged")))).toMap
    val expected = allNodes.map(id =>
      id -> ((coreDeg.contains(id), coreDeg.getOrElse(id, 0L), converged))).toMap
    assert(got == expected,
      s"kcore diverges: ${got.toSet.diff(expected.toSet).take(3)}")
    // the planted near-dup clusters give a non-trivial core AND some peeled pendants
    assert(got.values.exists(_._1) && got.values.exists(!_._1),
      "expected both core and non-core docs in the fixture graph")
  }

  test("linkpred: pairs are non-adjacent, share >= 1 neighbor, cn verified in-memory") {
    val edges = Dedup.embedDup(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Graph.linkpred(spark, sf).collect()
      .map(r => ((r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")), r.getAs[Long]("cn"))).toMap
    val expected = (for {
      (u, nu) <- adj.toSeq; (v, nv) <- adj.toSeq
      if u < v && !nu.contains(v)
      cn = (nu intersect nv).size if cn > 0
    } yield (u, v) -> cn.toLong).toMap
    assert(got == expected, s"linkpred diverges: got ${got.size}, expected ${expected.size}")
  }

  test("clustcoef: coefficient recomputes from g_triangles and degrees; bounds hold") {
    val tri = Graph.triangles(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_triangles")).toMap
    val deg = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = Graph.clustCoef(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == tri.keySet)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("degree") == deg(id))
      assert(r.getAs[Long]("n_triangles") == tri(id))
      val c = r.getAs[Double]("clust_coef")
      assert(c >= 0.0 && c <= 1.0, s"coef out of bounds at $id")
      if (deg(id) >= 2)
        assert(c == math.round(2.0 * tri(id) / (deg(id) * (deg(id) - 1)) * 1e6) / 1e6)
      else { assert(c == 0.0); assert(tri(id) == 0L) }
    }
    // dup clusters are cliques: some node must sit in a fully-closed neighborhood
    assert(rows.exists(_.getAs[Double]("clust_coef") == 1.0))
  }

  test("assortativity: r replays from exact in-memory moments; bounds hold") {
    val pairs = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val xy = edges.map { case (u, v) => (deg(u), deg(v)) }
    val m = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum; val syy = xy.map(p => p._2 * p._2).sum
    val expected = graft.operators.ExactRound.rScalar(
      (m * sxy - sx * sy).toDouble /
        math.sqrt((m * sxx - sx * sx).toDouble * (m * syy - sy * sy).toDouble), 6)
    val row = Graph.assortativity(spark, sf).collect().head
    assert(row.getAs[Long]("n_nodes") == deg.size.toLong)
    assert(row.getAs[Long]("n_edges") == pairs.length.toLong)
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 && r <= 1.0, s"assortativity out of [-1,1]: $r")
    assert(r == expected, s"assortativity $r != replay $expected")
  }

  test("modularity: Q replays from exact integer numerators; bounds hold") {
    import graft.operators.ExactRound
    val com = Graph.community(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("pred_label")).toMap
    val pairs = Dedup.embedDup(spark, sf).select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val m2 = edges.length.toLong
    val lIn2 = edges.filter { case (u, v) => com(u) == com(v) }
      .groupBy { case (u, _) => com(u) }.view.mapValues(_.length.toLong).toMap
    val dTot = edges.groupBy { case (u, _) => com(u) }.view.mapValues(_.length.toLong).toMap
    val nums = dTot.map { case (c, d) => c -> (m2 * lIn2.getOrElse(c, 0L) - d * d) }
    val qExpected = ExactRound.rScalar(
      nums.values.sum.toDouble / (m2 * m2).toDouble, 6)
    val rows = Graph.modularity(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("com")).toSet == dTot.keySet)
    rows.foreach { r =>
      val c = r.getAs[Long]("com")
      assert(r.getAs[Long]("l_in") == lIn2.getOrElse(c, 0L) / 2)
      assert(r.getAs[Long]("d_tot") == dTot(c))
      assert(r.getAs[Double]("contrib") ==
        ExactRound.rScalar(nums(c).toDouble / (m2 * m2).toDouble, 6))
      assert(r.getAs[Double]("q_total") == qExpected)
    }
    val q = rows.head.getAs[Double]("q_total")
    assert(q >= -0.5 && q <= 1.0, s"modularity out of bounds: $q")
    // label propagation on planted near-dup clusters must beat random
    assert(q > 0.0, s"community partition shows no structure: Q=$q")
  }


  test("g_scc: census matches an independent scalar pivot-SCC replay of the same graph") {
    val census = Graph.scc(spark, sf).collect()
      .map(r => r.getAs[Long]("size") -> (r.getAs[Long]("n_sccs"), r.getAs[Long]("n_nodes")))
      .toMap
    val n = Tables.documents(spark, sf).count()
    assert(census.values.map(_._2).sum == n, "census must partition the node set")
    // rebuild the synthesized edges and run pivot double-BFS SCC in memory
    val ids = (0L until n)
    val edges = ids.flatMap { i =>
      val within = if (i % 8 < 7 && i + 1 < n) Seq(i -> (i + 1)) else Nil
      val closing = if (i % 8 == 7 && (i / 8) % 3 != 0) Seq(i -> (i - 7)) else Nil
      val chord = if (i % 8 == 0 && i + 8 < n) Seq(i -> (i + 8)) else Nil
      within ++ closing ++ chord
    }
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val inc = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    def bfs(adj: Map[Long, Seq[Long]], p: Long, alive: Set[Long]): Set[Long] = {
      var seen = Set(p); var frontier = List(p)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filter(u => alive(u) && !seen(u)).distinct
        seen ++= next; frontier = next
      }
      seen
    }
    var rem = ids.toSet
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    while (rem.nonEmpty) {
      val p = rem.min
      val comp = bfs(out, p, rem) & bfs(inc, p, rem)
      sizes += comp.size
      rem --= comp
    }
    val expect = sizes.groupBy(identity).map { case (sz, xs) =>
      sz.toLong -> (xs.size.toLong, sz.toLong * xs.size)
    }
    assert(census == expect, s"engine census $census != scalar replay $expect")
  }
}
