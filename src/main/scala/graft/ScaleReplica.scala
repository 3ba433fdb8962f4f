package graft

import org.apache.spark.sql.functions._

/** Scale-probe corpus builder: writes an N×-replicated copy of a
  * testdata dir so the heaviest queries can be measured at 1× and N×
  * and their empirical scaling exponents committed (SCALING.md) —
  * turning the 100 TB posture from a plan-shape argument into a
  * measured curve.
  *
  * Replication must not CHANGE the statistics it claims to scale:
  *  - documents: replica i's tokens are bijectively renamed
  *    (`tok` → `tok_rI` via one regexp), which preserves every
  *    within-replica count/shingle/duplicate relation EXACTLY while
  *    making cross-replica similarity zero — naive duplication would
  *    multiply every near-dup cluster by N and the pair tables by N²,
  *    a quadratic blow-up the GENERATOR injected, not the algorithm.
  *  - embeddings: replica i's vectors are cyclically dimension-rotated
  *    by i — an orthogonal transform per replica, so norms and every
  *    within-replica dot product survive bit-exactly while
  *    cross-replica cosines decohere to unrelated-pair levels.
  *  - ids shift by i·(max+1), preserving the mod-k seed densities the
  *    operators key on.
  * All other tables byte-copy at 1× so every query's inputs resolve.
  *
  * With a 4th arg `facts`, the relational fact tables replicate too:
  * order/event/customer PRIMARY keys shift by i·(max+1), and the
  * user/customer FOREIGN keys (o_custkey, events.user_id) shift in
  * LOCKSTEP with customer — those keys are SELF-joined (sessionize,
  * stream-stream attribution), and a 1× user space would multiply
  * every such join's output by N² (measured live: the click→purchase
  * interval join went 16.9 s → 438 s for 5× data before this). Users
  * grow with their events; per-entity activity is preserved exactly;
  * cross-replica interaction is zero. part/supplier/nation stay 1×
  * (never self-joined): per-part fact fan-out growing N× is the
  * honest hot-dimension shape, group counts scale linearly, skewed
  * keys get N× hotter, and every join stays referentially intact.
  *
  * Usage: runMain graft.ScaleReplica <srcDir> <outDir> <N> [facts|embonly|eventsonly]
  * (`embonly` writes ONLY the replicated embeddings table — the banded
  * path's 1000x envelope probe needs 2e6 vectors, ~50 MB, and nothing
  * else; replicating 1000x documents would cost minutes and a GB for
  * tables the probe never reads. `eventsonly` replicates events +
  * customer in lockstep — the r12 streaming 1000x probe — and copies
  * every other table at 1x; compose from an already-facts-scaled src
  * (xf100 x 10 = 1000x) so N stays small enough for a flat union.)
  */
object ScaleReplica {
  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val n = args(2).toInt
    val facts = args.length > 3 && args(3) == "facts"
    val embOnly = args.length > 3 && args(3) == "embonly"
    val evOnly = args.length > 3 && args(3) == "eventsonly"
    val spark = GraftSession.forMain()
    val cpus = spark.sparkContext.defaultParallelism
    new java.io.File(out).mkdirs()

    if (!embOnly && !evOnly) {
    val docs = Tables.load(spark, src, "documents")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 until n).map { i =>
      val txt = if (i == 0) col("text")
        else regexp_replace(col("text"), "([^ \\t\\n\\r]+)", s"$$1_r$i")
      docs.select((col("doc_id") + lit(i * maxDoc)).as("doc_id"), txt.as("text"),
        col("lang"), col("source"),
        (if (i == 0) col("n_chars") else length(txt).cast("long")).as("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(math.max(4, cpus))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (!evOnly) {
    val emb = Tables.load(spark, src, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // replica i's rotation alone is i mod dim, so replicas i and i+dim
    // would be EXACT duplicates up to id shift — silently re-injecting
    // the quadratic cross-replica pair blow-up the transform exists to
    // prevent. Past dim replicas, COMPOSE the rotation with a
    // deterministic per-group sign mask (group g = i / dim flips
    // dimension j iff the low bit of a Knuth-hash of (j, g) is set):
    // sign flips are orthogonal, so norms and every within-replica dot
    // product still survive bit-exactly, while any two replicas differ
    // in rotation or mask and their cross cosines decohere. Capacity
    // dim·2^dim ≫ any probe N; still fail loudly past what the mask
    // construction supports.
    require(n <= dim * 64,
      s"ScaleReplica: N=$n exceeds ${dim * 64} supported replicas (dim=$dim x 64 sign groups)")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    (0 until n).map { i =>
      val k = i % dim
      val g = i / dim
      val rot = if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      val flipped = if (g == 0) rot else {
        val signs = array((0 until dim).map { j =>
          lit(if ((((j.toLong + g * 1009L) * 2654435761L >> 7) & 1L) == 1L) -1.0f else 1.0f)
        }: _*)
        zip_with(rot, signs, (x, s) => x * s)
      }
      emb.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
        flipped.as("embedding"), col("label"))
    }.grouped(64).toSeq match {
      // one N-way union is fine at probe N ≤ ~100; a 1000-branch
      // left-deep union (the embonly envelope probe) makes analysis
      // super-linear, so chunk the union and append per chunk —
      // identical rows, bounded plan size
      case chunks =>
        graft.Scratch.rmTree(s"$out/embeddings.parquet")
        chunks.foreach(g => g.reduce(_ unionByName _)
          .repartition(math.max(4, cpus))
          .write.mode("append").parquet(s"$out/embeddings.parquet"))
    }
    }

    val copied = if (embOnly) Seq.empty[String]
    else if (evOnly) {
      // events + customer in LOCKSTEP (the facts-mode argument: user_id
      // shifts by i*maxCust so per-user activity is preserved exactly
      // and cross-replica interaction is zero); everything else 1x
      val cust = Tables.load(spark, src, "customer")
      val maxCust = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1
      (0 until n).map { i =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(i * maxCust))
      }.reduce(_ unionByName _)
        .repartition(math.max(4, cpus))
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      val ev = Tables.load(spark, src, "events")
      val maxEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1
      // same single-FLAT-FILE requirement as facts mode (the streaming
      // source's pathGlobFilter matches files, not directories)
      val tmpEv = s"$out/_tmp_events"
      (0 until n).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * maxEv))
          .withColumn("user_id", col("user_id") + lit(i * maxCust))
      }.reduce(_ unionByName _)
        .coalesce(1)
        .write.mode("overwrite").parquet(tmpEv)
      val part = new java.io.File(tmpEv).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmpEv"))
      graft.Scratch.rmTree(s"$out/events.parquet")
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.Scratch.rmTree(tmpEv)
      Seq("region", "nation", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings")
    }
    else if (facts) {
      // customer and the user/customer FKs replicate IN LOCKSTEP with
      // the facts: keeping user_id/o_custkey at 1x would multiply every
      // user/customer-keyed SELF-join quadratically (caught live: the
      // stream-stream click->purchase join went 16.9 s -> 438 s for 5x
      // data because every (user, ts) match became N x N) — the honest
      // warehouse shape is users growing with their events, per-entity
      // activity preserved exactly, cross-replica interaction zero.
      // part/supplier/nation stay 1x: per-part/supplier fact fan-out
      // growing Nx is the honest "hot dimension" shape, and those keys
      // are never self-joined.
      val cust = Tables.load(spark, src, "customer")
      val maxCust = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1
      (0 until n).map { i =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(i * maxCust))
      }.reduce(_ unionByName _)
        .repartition(math.max(4, cpus))
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      val orders = Tables.load(spark, src, "orders")
      val maxOrd = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      (0 until n).map { i =>
        orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrd))
          .withColumn("o_custkey", col("o_custkey") + lit(i * maxCust))
      }.reduce(_ unionByName _)
        .repartition(math.max(4, cpus))
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      val li = Tables.load(spark, src, "lineitem")
      (0 until n).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrd))
      }.reduce(_ unionByName _)
        .repartition(math.max(4, cpus))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      val ev = Tables.load(spark, src, "events")
      val maxEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1
      // events must land as a single FLAT FILE named events.parquet:
      // the streaming source reads `pathGlobFilter=events.parquet`
      // against the dir, which matches files, not directories — a
      // directory-shaped replica silently streams ZERO rows (caught
      // when the x10f codegen-crossover runs came back 7x faster than
      // 1x). Write to a temp dir, then move the one part file out.
      val tmpEv = s"$out/_tmp_events"
      (0 until n).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * maxEv))
          .withColumn("user_id", col("user_id") + lit(i * maxCust))
      }.reduce(_ unionByName _)
        .coalesce(1)
        .write.mode("overwrite").parquet(tmpEv)
      val part = new java.io.File(tmpEv).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmpEv"))
      // a previous run (or any Spark write) may have left a DIRECTORY
      // at the destination — REPLACE_EXISTING can't replace a non-empty
      // dir (DirectoryNotEmptyException), so clear whatever is there
      graft.Scratch.rmTree(s"$out/events.parquet")
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.Scratch.rmTree(tmpEv)
      Seq("region", "nation", "supplier", "part")
    } else Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    copied.foreach { t =>
      // a composed src (eventsonly from an already-scaled dir) has
      // DIRECTORY-shaped tables — Files.copy of a directory copies the
      // empty dir entry only, silently emptying the table; copy the
      // tree (flat testdata files take the single-file branch)
      def copyTree(from: java.io.File, to: java.io.File): Unit =
        if (from.isDirectory) {
          to.mkdirs()
          from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
        } else java.nio.file.Files.copy(from.toPath, to.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.Scratch.rmTree(s"$out/$t.parquet")
      copyTree(new java.io.File(s"$src/$t.parquet"), new java.io.File(s"$out/$t.parquet"))
    }
    println(s"scale-replica: wrote ${n}x " +
      (if (embOnly) "embeddings"
       else if (evOnly) "events/customer"
       else "documents/embeddings" + (if (facts) "/customer/orders/lineitem/events" else "")) +
      s" to $out")
    spark.stop()
  }
}
