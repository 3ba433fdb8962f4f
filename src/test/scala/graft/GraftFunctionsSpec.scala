package graft

class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions evaluate and agree with the Column API") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT djb2('a') AS h, djb2_partition('spark', 10) AS p,
        | simhash64(array('a', 'b', 'a')) AS sh,
        | dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        | word_shingles(array('a','b','c','b','c'), 2) AS ws,
        | est_jaccard(minhash_sig(array('x y z')), minhash_sig(array('x y z'))) AS ej
        |""".stripMargin).first()
    assert(r.getAs[Long]("h") == 177670L)
    val p = r.getAs[Int]("p")
    assert(p == graft.functions.Djb2.partition("spark".getBytes("UTF-8"), 10))
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getSeq[String](r.fieldIndex("ws")) == Seq("a b", "b c", "c b"))
    assert(r.getAs[Double]("ej") == 1.0)
  }

  test("literal-typed scalar args are accepted; bad args fail with a clear message") {
    GraftFunctions.register(spark)
    // BIGINT literal and a constant-folded expression are both fine
    assert(spark.sql("SELECT djb2_partition('spark', CAST(10 AS BIGINT)) AS p").first()
      .getAs[Int]("p") == graft.functions.Djb2.partition("spark".getBytes("UTF-8"), 10))
    assert(spark.sql("SELECT size(word_shingles(array('a','b','c'), 1+1)) AS n").first()
      .getAs[Int]("n") == 2)
    // a column reference is not a literal: descriptive error, not a CCE/NPE
    val err = intercept[Exception] {
      spark.sql("SELECT djb2_partition(t, n) FROM VALUES ('a', 3) AS v(t, n)").collect()
    }
    assert(err.getMessage.contains("must be a literal integer"),
      s"expected a descriptive error, got: ${err.getMessage}")
    // the array<bigint> pair functions name themselves and both input types
    import spark.implicits._
    import graft.functions.MinHashFns._
    val pair = Seq((Seq(1L), Seq("a"))).toDF("a", "b")
    Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column)](
      "sorted_jaccard" -> sorted_jaccard, "sorted_overlap" -> sorted_overlap,
      "est_jaccard" -> est_jaccard).foreach { case (name, f) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        pair.select(f(org.apache.spark.sql.functions.col("a"), org.apache.spark.sql.functions.col("b"))))
      assert(e.getMessage.contains(s"$name expects two array<bigint>") &&
        e.getMessage.contains("ArrayType(LongType") && e.getMessage.contains("ArrayType(StringType"),
        e.getMessage)
    }
  }

  test("cdc_boundaries: chunks tile the text, and an insertion shifts at most one boundary region") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // non-periodic text (a periodic one collapses to few distinct chunks)
    val rnd = new scala.util.Random(42)
    val base = Seq.fill(400)("abcdefghijklmnopqrstuvwxyz".charAt(rnd.nextInt(26)).toString * (1 + rnd.nextInt(3)))
      .mkString(" ")
    val edited = "INSERTED-PREFIX-BYTES " + base
    def chunkHashes(text: String): Seq[String] = {
      val row = Seq(text).toDF("text")
        .selectExpr("cdc_boundaries(text) AS bs", "text")
        .selectExpr("bs", "length(text) AS n")
        .first()
      val bs = row.getSeq[Int](0)
      val n = row.getInt(1)
      val offs = 0 +: bs
      val ends = bs :+ n
      // chunk lengths tile the text exactly
      assert(offs.zip(ends).map { case (a, b) => b - a }.sum == n)
      assert(offs.zip(ends).forall { case (a, b) => b > a }, "empty chunk produced")
      offs.zip(ends).map { case (a, b) => text.substring(a, b) }
        .map(s => java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }
    val h1 = chunkHashes(base)
    val h2 = chunkHashes(edited)
    // content-defined boundaries re-synchronize after the insertion: all
    // but the first chunk(s) keep their identity (fixed-size blocks would
    // lose every block's identity to the 22-char shift)
    val distinct1 = h1.toSet
    val shared = distinct1.intersect(h2.toSet).size
    assert(shared >= distinct1.size - 2,
      s"insertion destroyed chunk identity: ${distinct1.size} distinct chunks, only $shared shared")
  }
}
