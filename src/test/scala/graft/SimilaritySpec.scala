package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("brute-force ANN returns k descending-cosine neighbors, excluding the query") {
    val rows = Similarity.annBrute(spark, sf).collect()
    assert(rows.length == 10)
    val cos = rows.map(_.getAs[Double]("cosine"))
    assert(cos.sameElements(cos.sorted(Ordering[Double].reverse)))
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("knn join: 5 neighbors per query, ranks 1..5") {
    val rows = Similarity.knnJoin(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to 5))
    }
  }

  test("LSH ANN results come from the multiprobe bucket set (query bucket + 4 bit-flips)") {
    val lsh = Similarity.annLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    assert(lsh.map(_.getAs[Int]("bucket")).distinct.length <= 5)
    // approximate recall: every LSH hit's cosine is a genuine cosine value in [-1,1]
    lsh.foreach { r =>
      val c = r.getAs[Double]("cosine"); assert(c >= -1 && c <= 1)
    }
  }

  test("IVF ANN returns 10 neighbors from at most 2 probed cells") {
    val rows = Similarity.annIvf(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("centroid_id")).distinct.length <= 2)
    val cos = rows.map(_.getAs[Double]("cosine"))
    assert(cos.sameElements(cos.sorted(Ordering[Double].reverse)))
  }

  test("PQ ANN: 10 rows in ascending ADC order, beats chance at finding true neighbors") {
    val rows = Similarity.annPq(spark, sf).collect()
    assert(rows.length == 10)
    val adc = rows.map(_.getAs[Long]("approx_micros"))
    assert(adc.sameElements(adc.sorted), "rows must ascend by ADC distance")
    rows.foreach(r => assert(math.abs(r.getAs[Double]("cosine")) <= 1.0))
    // quantized ranking must correlate with the true one: the PQ top-10
    // should recover some of the exact top-10 (chance overlap on 500
    // vectors is ~0.2 ids)
    val exact = Similarity.annBrute(spark, sf).collect().map(_.getAs[Long]("vec_id")).toSet
    val got = rows.map(_.getAs[Long]("vec_id")).toSet
    assert((exact & got).nonEmpty, "PQ found none of the true top-10 — encode/ADC broken")
  }

  test("pipeline curate output is canonical, above threshold, and a subset of docs") {
    val rows = graft.operators.Pipeline.curate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("quality_score") >= 0.5))
    assert(rows.length <= Tables.documents(spark, sf).count())
  }

  test("hybrid RRF: fused scores decompose into the rank formula, both retrievers represented") {
    val rows = graft.operators.Similarity.hybridRrf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 40)
    rows.foreach { r =>
      val rt = Option(r.getAs[java.lang.Long]("rt")).map(_.toLong)
      val rv = Option(r.getAs[java.lang.Long]("rv")).map(_.toLong)
      assert(rt.nonEmpty || rv.nonEmpty)
      val expected = rt.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rv.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expected) < 1e-9)
    }
    // descending fused order with id tie-break
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (fa, fb) = (a.getAs[Double]("rrf"), b.getAs[Double]("rrf"))
        assert(fa > fb || (fa == fb && a.getAs[Long]("id") < b.getAs[Long]("id")))
      case _ => ()
    }
  }

  test("centroid assignment is total and deterministic") {
    val rows = Similarity.centroids(spark, sf).collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val cid = r.getAs[Long]("centroid_id")
      assert(cid >= 0 && cid < 10)
      assert(r.getAs[Double]("dist") >= 0)
    }
    // seed vectors are their own centroids at distance 0
    rows.filter(_.getAs[Long]("vec_id") < 10)
      .foreach(r => assert(r.getAs[Long]("centroid_id") == r.getAs[Long]("vec_id")))
  }
  test("recall eval: one row per index, hits bounded by retrieved and by k") {
    val rows = Similarity.recallEval(spark, sf).collect()
    assert(rows.map(_.getAs[String]("method")).toSet == Set("lsh", "ivf", "pq"))
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= r.getAs[Long]("n_retrieved") && hits <= 10)
      assert(r.getAs[Double]("recall_at_10") == hits / 10.0)
    }
  }

  test("radius search: every hit is above threshold and is a superset check vs brute top-k") {
    val hits = Similarity.radius(spark, sf).collect()
    assert(hits.forall(_.getAs[Double]("cosine") >= 0.35))
    // any brute top-10 neighbor above the threshold must be in the radius set
    val ids = hits.map(_.getAs[Long]("vec_id")).toSet
    Similarity.annBrute(spark, sf).collect()
      .filter(_.getAs[Double]("cosine") >= 0.35)
      .foreach(r => assert(ids.contains(r.getAs[Long]("vec_id"))))
  }

  test("s_mmr equals an in-memory greedy MMR replay") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ExactRound
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def norm(a: Array[Double]) = math.sqrt(dot(a, a))
    def simMicros(a: Array[Double], b: Array[Double]): Long =
      math.round(ExactRound.rScalar(dot(a, b) / (norm(a) * norm(b)), 6) * 1e6)
    val qv = vecs(0L)
    val cand = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, simMicros(v, qv)) }
      .sortBy { case (id, _, sq) => (-sq, id) }.take(20)
    var selected = Vector.empty[(Long, Long, Long)] // (id, simq, score)
    for (_ <- 1 to 5) {
      val pick = cand.filter(c => !selected.exists(_._1 == c._1)).map { case (id, v, sq) =>
        val pen = if (selected.isEmpty) -1000000L
          else selected.map(s => simMicros(v, vecs(s._1))).max
        (id, sq, sq * 7 - pen * 3)
      }.sortBy { case (id, _, sc) => (-sc, id) }.head
      selected :+= pick
    }
    val got = graft.operators.Similarity.mmr(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("simq_micros"),
        r.getAs[Long]("mmr_decimicros"))).toVector
    assert(got == selected, s"mmr diverges:\n got $got\n exp $selected")
  }

  test("s_ivf_stats: cells partition the corpus, centroids sit in their own cell") {
    val rows = Similarity.ivfStats(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("centroid_id")).toSet == (0L to 9L).toSet)
    val total = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == total, "cells must partition")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") >= 1L) // the centroid itself at dist 0
      assert(r.getAs[Long]("sum_dist_micros") >= 0L)
      assert(r.getAs[Double]("share") > 0.0 && r.getAs[Double]("share") < 1.0)
      assert(r.getAs[Double]("mean_dist") >= 0.0)
    }
  }

  test("sq8: codes in [0,255], bounds dims hit 0 and 255, recon error below half-step bound") {
    val rows = Similarity.sq8(spark, sf).collect()
    assert(rows.nonEmpty)
    val allCodes = rows.flatMap(_.getAs[String]("codes_csv").split(",").map(_.toInt))
    assert(allCodes.forall(c => c >= 0 && c <= 255))
    assert(allCodes.contains(0) && allCodes.contains(255))
    rows.foreach(r => assert(r.getAs[Long]("err_pico") >= 0L))
  }

  test("ivf probe sweep: scan cost strictly grows with nProbe, recall is monotone") {
    val rows = Similarity.ivfProbeSweep(spark, sf).collect()
      .map(r => (r.getAs[Long]("n_probe"), r.getAs[Long]("n_scanned"),
        r.getAs[Double]("scan_frac"), r.getAs[Long]("n_hits"), r.getAs[Double]("recall")))
      .sortBy(_._1)
    assert(rows.map(_._1).sameElements(Array(1L, 2L, 4L)))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 < b._2, s"scanned count must grow with probes: $a vs $b")
      assert(a._4 <= b._4, s"recall must be monotone in probes: $a vs $b")
    }
    rows.foreach { case (_, scanned, frac, hits, recall) =>
      assert(hits >= 0 && hits <= 10 && recall == hits / 10.0)
      assert(frac > 0.0 && frac < 1.0, s"probing a few cells must scan a strict subset ($frac)")
      assert(scanned > 0)
    }
  }

  test("norm stats: per-label profile replays from collected vectors; dims uniform") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Int]("label").toLong,
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble)))
    val expected = vecs.groupBy(_._1).map { case (lbl, vs) =>
      val norms = vs.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
      val meanUs = norms.map(n => math.round(n * 1e6)).sum.toDouble / norms.size / 1e6
      def r6(x: Double) = math.round(x * 1e6) / 1e6
      lbl -> ((vs.size.toLong, r6(norms.min), r6(norms.max), r6(meanUs)))
    }
    val got = Similarity.normStats(spark, sf).collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("norm_min"),
          r.getAs[Double]("norm_max"), r.getAs[Double]("norm_mean")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (lbl, (n, mn, mx, mean)) =>
      val (en, emn, emx, emean) = expected(lbl)
      assert(n == en && mn == emn && mx == emx && mean == emean, s"label $lbl drifted")
      assert(mn <= mean && mean <= mx)
    }
    val dims = Similarity.normStats(spark, sf).collect()
      .map(r => (r.getAs[Long]("dim_min"), r.getAs[Long]("dim_max")))
    assert(dims.forall { case (a, b) => a == 64L && b == 64L }, "fixture dims are uniform 64")
  }

  test("cos hist: buckets replay from successor-pair cosines, shares sum to 1") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val cosines = vecs.keys.toSeq.flatMap { id =>
      vecs.get(id + 1).map { w =>
        val v = vecs(id)
        val c = dot(v, w) / (math.sqrt(dot(v, v)) * math.sqrt(dot(w, w)))
        // HALF_UP away from zero — math.round would differ on negative ties
        BigDecimal(c * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
      }
    }
    val expected = cosines
      .map(c => math.min(math.floor((c + 1.0) * 10.0).toLong, 19L))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Similarity.cosHist(spark, sf).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("share")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (bkt, (n, share)) =>
      assert(n == expected(bkt), s"count at bucket $bkt")
      assert(share == math.round(n.toDouble / cosines.size * 1e6) / 1e6)
    }
    assert(got.values.map(_._1).sum == cosines.size.toLong)
    // synthetic embeddings are not collapsed: no single bucket holds everything
    assert(got.size > 1)
  }

  test("dim stats: per-dimension profile replays from collected vectors") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    val dims = vecs.head.length
    val rows = Similarity.dimStats(spark, sf).collect()
    assert(rows.length == dims)
    // HALF_UP away from zero — math.round rounds toward +inf and flips negative ties
    def r6(x: Double): Double =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    rows.foreach { r =>
      val d = r.getAs[Long]("dim").toInt
      val vals = vecs.map(_(d))
      assert(r.getAs[Long]("n_vals") == vecs.length.toLong)
      assert(r.getAs[Double]("val_min") == r6(vals.min))
      assert(r.getAs[Double]("val_max") == r6(vals.max))
      val us = vals.map(v =>
        BigDecimal(v * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      assert(r.getAs[Double]("val_mean") == r6(us.toDouble / vals.length / 1e6))
      val small = vals.count(v => math.abs(v) < 0.05).toLong
      assert(r.getAs[Double]("frac_small") == r6(small.toDouble / vals.length))
    }
    // synthetic dims all carry signal: none is fully dead, none saturated
    assert(rows.forall(r => r.getAs[Double]("frac_small") < 1.0))
  }

  test("knn_acc: per-label agreement replays from an in-memory 1-NN scan") {
    import graft.operators.ExactRound
    val vecs = Tables.embeddings(spark, sf).collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      ExactRound.rScalar(ab / (math.sqrt(aa) * math.sqrt(bb)), 6)
    }
    val sample = vecs.filter(_._1 % 50 == 0)
    val agree = sample.map { case (qid, qlab, qv) =>
      val nn = vecs.filter(_._1 != qid)
        .map { case (id, lab, v) => (id, lab, cos(v, qv)) }
        .minBy { case (id, _, c) => (-c, id) }
      qlab -> (nn._2 == qlab)
    }
    val expected = agree.groupBy(_._1).map { case (lab, xs) =>
      lab -> ((xs.length.toLong, xs.count(_._2).toLong))
    }
    val got = Similarity.knnAcc(spark, sf).collect().map { r =>
      r.getAs[Int]("label") -> ((r.getAs[Long]("n_sampled"), r.getAs[Long]("n_match")))
    }.toMap
    assert(got == expected, s"knn_acc diverges: $got vs $expected")
    Similarity.knnAcc(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("acc_1nn") == ExactRound.rScalar(
        r.getAs[Long]("n_match").toDouble / r.getAs[Long]("n_sampled"), 6))
    }
  }

  test("s_outliers: distances replay from micros-exact in-memory centroids") {
    import graft.operators.ExactRound
    val vecs = Tables.embeddings(spark, sf).collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    }
    val cent = vecs.groupBy(_._2).view.mapValues { vs =>
      val dims = vs.head._3.length
      Array.tabulate(dims) { j =>
        val us = vs.map(v => BigDecimal(v._3(j) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
        us.toDouble / (vs.length * 1000000.0)
      }
    }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var s = 0.0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val expected = vecs.map { case (id, lab, v) =>
      val c = cent(lab)
      (id, ExactRound.rScalar(dot(v, v) - 2.0 * dot(v, c) + dot(c, c), 6))
    }.sortBy { case (id, sd) => (-sd, id) }.take(20)
    val got = Similarity.outliers(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sq_dist"))).toSeq
    assert(got == expected.toSeq, s"outliers diverge: ${got.take(3)} vs ${expected.take(3)}")
  }

  test("ivf_batch: per-query ranks are 1..k from probed cells; no self-match") {
    val rows = Similarity.ivfBatch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.sameElements(1L to rs.length))
      assert(rs.map(_.getAs[Long]("centroid_id")).distinct.length <= 2,
        s"query $q drew from more than its 2 probe cells")
      assert(!rs.map(_.getAs[Long]("vec_id")).contains(q), "self-match must be excluded")
      val cos = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann_filtered: every hit carries the query's label; scores sorted; query excluded") {
    import org.apache.spark.sql.functions._
    val qLabel = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("label").first().getInt(0)
    val rows = Similarity.annFiltered(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    assert(rows.forall(_.getAs[Int]("label") == qLabel),
      "filter must hold on every returned row")
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L), "query must not match itself")
    val cos = rows.map(_.getAs[Double]("cosine")).toSeq
    assert(cos == cos.sorted.reverse, "results must be sorted by cosine desc")
  }

  test("filtered_recall: recall and candidate count are monotone in probe width") {
    val rows = Similarity.filteredRecall(spark, sf).collect()
      .map(r => (r.getAs[Long]("n_probe"), r.getAs[Long]("n_candidates"),
        r.getAs[Double]("recall5"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2L, 4L))
    assert(rows(0)._2 <= rows(1)._2, "wider probe must scan at least as many candidates")
    assert(rows(0)._3 <= rows(1)._3, "wider probe must not lose recall")
    rows.foreach { case (_, nc, r5) =>
      assert(nc > 0); assert(r5 >= 0.0 && r5 <= 1.0)
    }
  }

  test("gram_matrix: upper triangle complete, diagonals are sums of squares, replay-exact") {
    val rows = Similarity.gramMatrix(spark, sf).collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")),
        (r.getAs[Long]("sum_uu"), r.getAs[Long]("n_vecs")))).toMap
    assert(rows.size == 36, "8-dim upper triangle is 36 cells")
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.values.forall(_._2 == n), "every vector contributes to every cell")
    for (i <- 0 until 8) assert(rows((i, i))._1 >= 0L, s"diagonal ($i,$i) negative")
    // exact in-memory replay of one off-diagonal cell
    val vecs = Tables.embeddings(spark, sf)
      .select("embedding").collect().map(_.getSeq[Float](0))
    val expect = vecs.map { v =>
      val m0 = operators.ExactRound.valueMicros(v(0).toDouble)
      val m3 = operators.ExactRound.valueMicros(v(3).toDouble)
      m0 * m3
    }.sum
    assert(rows((0, 3))._1 == expect, "cell (0,3) must equal the scalar replay")
  }

  test("kmeans_iter: cells partition the corpus; refinement is deterministic and converging") {
    val a = Similarity.kmeansIter(spark, sf).collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getAs[Long]("n_members"),
        r.getAs[Double]("movement"))).sortBy(_._1)
    val b = Similarity.kmeansIter(spark, sf).collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getAs[Long]("n_members"),
        r.getAs[Double]("movement"))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "iterative refinement must be run-deterministic")
    val total = Tables.embeddings(spark, sf).count()
    assert(a.map(_._2).sum == total, "cells must partition the corpus")
    a.foreach { case (_, n, mv) =>
      assert(n > 0, "no cell may be empty at this k and corpus")
      assert(mv >= 0.0 && mv < 1.0, s"movement out of band: $mv")
    }
  }
}
