package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup is total: one row per doc, canonical <= doc_id") {
    val rows = Dedup.exact(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("group_size") >= 1)
    }
  }

  test("minhash-LSH candidates have estimated jaccard in [0.3, 1]") {
    val rows = Dedup.minhashLsh(spark, sf).collect()
    assert(rows.nonEmpty, "generator plants near-dups; candidates expected")
    rows.foreach { r =>
      val j = r.getAs[Double]("est_jaccard")
      assert(j >= 0.3 && j <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("ngram jaccard pairs are a subset of minhash candidates' doc space and exact") {
    val exact = Dedup.ngramJaccard(spark, sf).collect()
    assert(exact.nonEmpty)
    exact.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
  }

  test("prefix-filter setsim join produces the identical pair set to LSH+verify") {
    val viaLsh = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = Dedup.setsimJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPrefix == viaLsh, "two exact algorithms must agree")
  }

  test("threshold sweep: counts replay exactly from the pair table and are monotone") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nDocs = Tables.documents(spark, sf).count()
    val got = Dedup.thresholdSweep(spark, sf).collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_dup_docs"), r.getAs[Double]("dup_rate")))
    assert(got.map(_._1).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    got.foreach { case (t, np, nd, rate) =>
      val hits = pairs.filter(_._3 >= t)
      val docs = hits.flatMap(p => Seq(p._1, p._2)).toSet
      assert(np == hits.length.toLong, s"n_pairs at $t")
      assert(nd == docs.size.toLong, s"n_dup_docs at $t")
      assert(rate == math.round(docs.size.toDouble / nDocs * 1e6) / 1e6, s"dup_rate at $t")
    }
    // the curve is monotone non-increasing in the threshold
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
    assert(got.head._2 > 0, "fixture plants near-dups at j >= 0.5")
  }

  test("source overlap: matrix replays from the pair table, shares sum to 1") {
    val srcOf = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        if (sa <= sb) (sa, sb) else (sb, sa)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.sourceOverlap(spark, sf).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("pair_share")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (n, share)) =>
      assert(n == expected(k), s"n_pairs at $k")
      assert(share == math.round(n.toDouble / pairs.length * 1e6) / 1e6, s"share at $k")
      assert(k._1 <= k._2, "matrix is upper-triangle")
    }
    assert(got.values.map(_._1).sum == pairs.length.toLong, "cells partition the pairs")
  }

  test("simhash pairs have hamming <= 3 and are deduplicated") {
    val rows = Dedup.simhash(spark, sf).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.distinct.length == pairs.length)
    rows.foreach(r => assert(r.getAs[Long]("hamming") <= 3))
  }

  test("dup clusters: every paired doc gets a label, labels are component minima") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(labels.keySet == inPairs, "exactly the paired docs are labeled")
    // both endpoints of every edge share a cluster
    pairs.foreach { case (a, b) => assert(labels(a) == labels(b), s"pair ($a,$b) split") }
    // a cluster's label is its smallest member
    labels.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
  }

  test("connected components closes a 200-node path graph (pointer jumping beats O(diameter))") {
    import spark.implicits._
    // worst-case diameter: a single chain 0-1-2-...-199
    val path = (0 until 199).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(path, maxRounds = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 200)
    assert(labels.forall(_._2 == 0L), "every node must reach the chain minimum")
  }

  test("connected components' logical plan stays constant-size across rounds") {
    import spark.implicits._
    // deep graph: needs ~10 pointer-jumping rounds; each round's self-join
    // embeds two copies of the previous plan, so without per-round eager
    // localCheckpoint the analyzed tree would hold thousands of nodes
    // (and the driver would burn minutes canonicalizing it at real SF)
    val path = (0 until 199).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val result = Dedup.connectedComponents(path, maxRounds = 15)
    val nodes = result.queryExecution.analyzed.collect { case n => n }.size
    assert(nodes <= 8, s"analyzed plan has $nodes nodes — per-round plan truncation regressed")
  }

  test("connected components refuses to return unverified labels on a zero round budget") {
    import spark.implicits._
    val path = (0 until 199).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxRounds = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("200-hop path collapses within 2 distributed rounds (partition-local contraction)") {
    import spark.implicits._
    // pre-RDD-loop this needed ~9 pointer-jumping rounds; the union-find
    // seed solves each partition's subgraph outright, so the volume-sized
    // (here: single) partition closes the whole path before round 1
    val path = (0 until 199).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(path, maxRounds = 2).collect()
    assert(labels.length == 200 && labels.forall(_.getLong(1) == 0L))
  }

  test("winnowing: docs sharing a >= K+W-1 substring share a fingerprint; short docs emit none") {
    import graft.functions.WinnowImpl
    def fps(s: String): Set[Long] = {
      val arr = WinnowImpl.fingerprints(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      (0 until arr.numElements()).map(arr.getLong).toSet
    }
    val shared = "the quick brown fox jumps!" // 26 >= K+W-1 = 23
    val a = s"AAAA left context $shared right tail AAAA"
    val b = s"completely different prefix $shared and another suffix"
    assert((fps(a) & fps(b)).nonEmpty, "winnowing theorem violated: no shared fingerprint")
    // unrelated strings of the same length share nothing
    val c = "zzzz unrelated words entirely here padddddding zzzzzz"
    assert((fps(a) & fps(c)).isEmpty)
    // below the guarantee floor (< K+W-1 chars): no fingerprints at all
    assert(fps("shorter than 23ch").isEmpty)
    // determinism
    assert(fps(a) == fps(a))
  }

  test("substring dedup finds the planted near-dup pairs via shared fingerprints") {
    val rows = Dedup.substringDup(spark, sf).collect()
    assert(rows.nonEmpty, "generator plants near-dups with verbatim runs; pairs expected")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_shared") >= 4)
    }
  }

  test("per-vector probe pruning rejects most cells on clustered embeddings, stays exact") {
    import spark.implicits._
    // the driver corpus is deliberately unclustered (random vectors ⇒ all
    // angles ≈ 90° ⇒ no exact metric pruning is possible, information-
    // theoretically); real embedding corpora are clustered, so pruning
    // power is pinned here on a clustered synthetic: 20 tight clusters,
    // ids round-robin so the seeded first-√n centroids cover every cluster
    val rnd = new scala.util.Random(42)
    val k = 20; val per = 40; val dim = 16
    val centers = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until k * per).map { i =>
      val c = centers(i % k)
      (i.toLong, c.map(x => x + 0.15 * rnd.nextGaussian()).toSeq)
    }
    val e = rows.toDF("vec_id", "embedding")
    val (pairs, probes) = Dedup.embedPairBlocks(e, t = 0.9)
    val n = k * per
    val numCells = math.max(32, math.ceil(math.sqrt(n.toDouble)).toInt)
    val frac = probes.count().toDouble / (n.toLong * numCells)
    assert(frac < 0.2, s"probe fraction $frac — per-vector pruning ineffective on clustered data")
    // exactness unaffected by pruning: same pair set as scala brute force
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      d / (math.sqrt(a.indices.foldLeft(0.0)((s, i) => s + a(i) * a(i))) *
        math.sqrt(b.indices.foldLeft(0.0)((s, i) => s + b(i) * b(i))))
    }
    val brute = (for {
      i <- rows.indices; j <- (i + 1) until rows.size
      if cos(rows(i)._2, rows(j)._2) >= 0.9
    } yield (rows(i)._1, rows(j)._1)).toSet
    assert(got == brute, s"pair set mismatch: got ${got.size}, brute ${brute.size}")
  }

  test("embedding near-dups are symmetric-free upper triangle with cosine in [0.4, 1]") {
    val rows = Dedup.embedDup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      val c = r.getAs[Double]("cosine")
      assert(c >= 0.4 && c <= 1.0)
    }
  }

  test("cell-blocked embedDup equals the brute-force cross join exactly") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns.{dot_product, l2_norm}
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", l2_norm(col("v")))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("v_a"), col("norm").as("n_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("v_b"), col("norm").as("n_b"))
    val brute = a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot_product(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = Dedup.embedDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked == brute,
      s"missing: ${(brute -- blocked).take(3)}; extra: ${(blocked -- brute).take(3)}")
  }

  test("containment join equals brute force and finds the asymmetric pairs") {
    import org.apache.spark.sql.functions.{col, size, split, trim}
    import graft.functions.MinHashFns.word_shingles
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        word_shingles(split(trim(col("text")), "[ \t\n\r]+"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs
      if (sa.size < sb.size) || (sa.size == sb.size && a < b)
      c = sa.intersect(sb).size.toDouble / sa.size
      cr = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cr >= 0.8
    } yield (a, b, cr)).toSet
    val got = Dedup.containmentJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute,
      s"missing: ${(brute -- got).take(3)}; extra: ${(got -- brute).take(3)}")
  }

  test("keep-best keeps exactly one doc per cluster, the max-quality one") {
    val rows = Dedup.keepBest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("cluster_id")).values.foreach { g =>
      val kept = g.filter(_.getAs[Boolean]("is_kept"))
      assert(kept.length == 1, "exactly one keeper per cluster")
      val best = g.maxBy(r => (r.getAs[Double]("quality_score"), -r.getAs[Long]("doc_id")))
      assert(kept.head.getAs[Long]("doc_id") == best.getAs[Long]("doc_id"))
      g.foreach(r => assert(r.getAs[Long]("keep_id") == best.getAs[Long]("doc_id")))
    }
  }

  test("lsh tune: r=2 is lossless, recall degrades monotonically with band width") {
    val rows = Dedup.lshTune(spark, sf).orderBy("band_rows").collect()
    assert(rows.map(_.getAs[Long]("band_rows")).toSeq == Seq(2L, 4L, 8L))
    val truth = rows.head.getAs[Long]("n_true")
    assert(truth > 0)
    assert(rows.head.getAs[Long]("n_found") == truth, "r=2 must surface every true pair")
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("n_found") <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("n_found") <= truth)
    }
  }

  test("cluster stats: savings report is conserved against the cluster labels") {
    val clusters = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val bySize = clusters.groupBy(_._2).values.groupBy(_.size)
    val rows = Dedup.clusterStats(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == clusters.length)
    rows.foreach { r =>
      val size = r.getAs[Long]("size").toInt
      assert(r.getAs[Long]("n_clusters") == bySize(size).size.toLong)
      assert(r.getAs[Long]("redundant_docs") ==
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("redundant_chars") >= 0L)
    }
  }

  test("bloom: membership sketch has zero false negatives") {
    val rows = Dedup.bloom(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 3)
      if (r.getAs[Int]("is_member") == 1)
        assert(r.getAs[Int]("maybe_member") == 1,
          s"bloom false negative on eval doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("hot-key stress: a 2000-copy document enters the band join as ONE representative") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hotText = "the same boilerplate footer text repeated across the whole crawl corpus"
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val hot = (0 until 2000).map(i => (1000000L + i, hotText)).toDF("doc_id", "text")
    val sigs = Dedup.signaturesOf(base.union(hot))
    val groups = Dedup.sigGroups(sigs.select("doc_id", "sig"))
    // the whole hot cluster collapses to one signature group
    val hotReps = groups.filter(col("doc_id") >= 1000000L)
      .select("rep").distinct().count()
    assert(hotReps == 1L, s"hot cluster split into $hotReps signature groups")
    // the join input is one row per distinct signature: rep-level pair
    // count is bounded by the DISTINCT corpus, not by the 2000 copies
    val repPairs = Dedup.bandCandidateReps(groups, bandRows = 4).count()
    val nBase = base.count()
    assert(repPairs <= nBase * nBase,
      s"rep pairs $repPairs not bounded by distinct corpus ($nBase docs)")
    // the expanded candidate set still honors the all-pairs contract:
    // the hot clique alone is 2000*1999/2 pairs — output-cardinality-
    // bound work, not join work (the policy: run d_exact first if intra-
    // identical pairs are not wanted)
    val expanded = Dedup.bandCandidates(groups, bandRows = 4).count()
    assert(expanded >= 2000L * 1999 / 2,
      s"expanded candidates $expanded missing the hot clique")
    sigs.unpersist(); groups.unpersist()
  }

  test("canonicalize-before-pair candidate set equals naive all-docs banding") {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    // plant a small identical cluster so the collapse actually engages
    val copies = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val sigs = Dedup.signaturesOf(base.union(copies)).select("doc_id", "sig")
    val got = Dedup.bandCandidates(Dedup.sigGroups(sigs), bandRows = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive reference: band every doc directly, no representative collapse
    val banded = sigs.select(col("doc_id"),
      posexplode(graft.functions.MinHashFns.band_hashes(col("sig"), 4)))
      .toDF("doc_id", "band_idx", "band_hash")
    val naive = banded.as("x").join(banded.as("y"), Seq("band_idx", "band_hash"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .filter(col("a") < col("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive,
      s"candidate sets diverge: extra=${(got -- naive).take(3)} missing=${(naive -- got).take(3)}")
    assert(got.nonEmpty)
  }

  test("prefix dup: groups replay from an in-memory prefix index, all >= 2 docs") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map { r =>
        val pfx = r.getAs[String]("text").trim.toLowerCase
          .split("[ \t\n\r]+").take(GraftConf.prefixDupTokens).mkString(" ")
        (r.getAs[Long]("doc_id"), r.getAs[String]("source"), pfx)
      }
    val expected = docs.groupBy(_._3).filter(_._2.length > 1).map { case (pfx, ds) =>
      ds.map(_._1).min -> ((ds.length.toLong, ds.map(_._2).distinct.length.toLong, pfx))
    }
    val got = Dedup.prefixDup(spark, sf).collect()
      .map(r => r.getAs[Long]("canonical_id") ->
        ((r.getAs[Long]("group_size"), r.getAs[Long]("n_sources"),
          r.getAs[String]("pfx")))).toMap
    assert(got == expected)
    assert(got.nonEmpty && got.values.forall(_._1 >= 2L))
  }

  test("d_cross_shard: near-pair shard hits replay from in-memory djb2 routing") {
    val rows = Dedup.crossShard(spark, sf).collect()
      .map(r => r.getAs[String]("relation") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("same_id"),
          r.getAs[Long]("same_content")))).toMap
    assert(rows.keySet == Set("exact", "near"))
    val fps = Tables.documents(spark, sf).select("doc_id", "text").collect().map { r =>
      val norm = r.getAs[String]("text").toLowerCase.replaceAll("[ \t\n\r]+", " ").trim
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
      r.getAs[Long]("doc_id") -> md
    }.toMap
    def shardOf(s: String) = graft.functions.Djb2.partition(s.getBytes("UTF-8"), 16)
    val near = Dedup.ngramJaccard(spark, sf).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameId = near.count { case (a, b) => shardOf(a.toString) == shardOf(b.toString) }
    val sameC = near.count { case (a, b) => shardOf(fps(a)) == shardOf(fps(b)) }
    assert(rows("near") == ((near.length.toLong, sameId.toLong, sameC.toLong)))
    // exact groups: replay pair counts from fingerprint multiplicities
    val ks = fps.values.toSeq.groupBy(identity).values.map(_.size.toLong).filter(_ > 1)
    assert(rows("exact")._1 == ks.map(k => k * (k - 1) / 2).sum)
    // id sharding must not magically co-locate: caught <= seen pairs
    assert(rows("near")._2 <= rows("near")._1 && rows("near")._3 <= rows("near")._1)
  }

  test("modal_agreement: one row per text near-dup pair; caught tracks the 0.4 threshold") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val rows = Dedup.modalAgreement(spark, sf).collect()
    assert(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet == pairs,
      "audit must cover exactly the text near-dup pairs")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("caught") == (r.getAs[Double]("cosine") >= 0.4))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }

  test("d_url_dedup: every decorated variant collapses; keeper is the group minimum") {
    val rows = operators.Dedup.urlDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count(), "every doc lands in exactly one group")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n >= 1 && n <= 4, s"group size $n outside the 4-variant construction")
      assert(r.getAs[Long]("n_raw") == n, "raw variants within a group are all distinct")
      val canonical = r.getAs[String]("canonical")
      val g = canonical.substring(canonical.lastIndexOf('/') + 1).toLong
      assert(r.getAs[Long]("keeper") >= 4 * g && r.getAs[Long]("keeper") < 4 * (g + 1))
      assert(!canonical.contains("www.") && !canonical.contains(":80") &&
        !canonical.contains("?") && !canonical.contains("#") && !canonical.endsWith("/"))
      assert(canonical == canonical.toLowerCase)
    }
    // full interior groups collapse all four decoration classes
    assert(rows.exists(_.getAs[Long]("n_docs") == 4), "no full group — variant synthesis broken")
  }
}
