package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** [[Tables.read]] infers a table's schema once per SparkContext and
  * serves it only while the files and the reader confs that shaped it
  * are unchanged: a repeated load runs no job, and whatever changes the
  * inferred schema infers again. */
class SchemaCacheSpec extends SparkSpec {

  /** `body` with the [[Tables.read]] inferences and scheduler jobs it ran. */
  private def measured[T](body: => T): (T, Long, Long) = {
    val meter = new Bench.Meter().attach(spark)
    try {
      val before = meter.reading(spark.sparkContext)
      val infers0 = Tables.schemaInfers
      val out = body
      val jobs = Bench.delta(meter.reading(spark.sparkContext), before).getOrElse("jobs", 0L)
      (out, Tables.schemaInfers - infers0, jobs)
    } finally meter.detach(spark)
  }

  private def schemaOf(df: => DataFrame): (StructType, Long, Long) = measured(df.schema)

  private def withTable[T](write: String => Unit)(body: String => T): T =
    Scratch.withDir("graft_schema_cache_") { dir =>
      val path = s"$dir/t"
      write(path)
      body(path)
    }

  test("a second load of a table in a fresh session runs no job") {
    Tables.load(spark.newSession(), sf, "nation").schema
    val (cold, _, coldJobs) = schemaOf(spark.newSession().read.parquet(s"$sf/nation.parquet"))
    assert(coldJobs >= 1, s"an uncached read ran no job ($coldJobs), so the meter cannot tell a hit")
    val (cached, infers, jobs) = schemaOf(Tables.load(spark.newSession(), sf, "nation"))
    assert(infers == 0 && jobs == 0, s"a repeated load inferred $infers times and ran $jobs jobs")
    assert(cached == cold)
  }

  test("a rewritten file (new length or mtime) infers again and returns the new schema") {
    import spark.implicits._
    withTable(p => Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(p)) { path =>
      val s = spark.newSession()
      assert(schemaOf(Tables.read(s, path))._1.fieldNames.toSeq == Seq("id", "s"))
      assert(schemaOf(Tables.read(s, path))._2 == 0, "an unchanged table inferred again")

      // new length: another column
      Seq((1L, "a", 2.0)).toDF("id", "s", "x").coalesce(1).write.mode("overwrite").parquet(path)
      val (widened, infers, _) = schemaOf(Tables.read(s, path))
      assert(infers == 1 && widened == spark.read.parquet(path).schema && widened.fieldNames.contains("x"),
        s"a rewritten table served $widened after $infers inferences")

      // same bytes, new mtime
      val part = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-")).head
      assert(part.setLastModified(part.lastModified() + 60000L))
      assert(schemaOf(Tables.read(s, path))._2 == 1, "a touched file did not infer again")
    }
  }

  test("flipping a parquet reader conf between two loads infers again, as a cold read would") {
    import spark.implicits._
    val flips = Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> Seq("true", "false"),
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> Seq("true", "false"),
      "spark.sql.parquet.binaryAsString" -> Seq("false", "true"),
      "spark.sql.caseSensitive" -> Seq("false", "true"))
    withTable { p =>
      Seq((1L, java.time.LocalDateTime.of(2024, 1, 15, 10, 30), Array[Byte](104, 105)))
        .toDF("id", "ts_ntz", "raw").coalesce(1).write.parquet(p)
    } { path =>
      flips.foreach { case (key, values) =>
        val s = spark.newSession()
        values.foreach { v =>
          s.conf.set(key, v)
          val (schema, infers, _) = schemaOf(Tables.read(s, path))
          assert(infers == 1, s"$key=$v: $infers inferences")
          assert(schemaOf(Tables.read(s, path))._2 == 0, s"$key=$v: a repeated load inferred again")
          // StructType equality includes each field's nullability
          val cold = s.read.parquet(path).schema
          assert(schema == cold, s"$key=$v: cached $schema, cold $cold")
        }
      }
    }
  }

  /** A one-file table written by parquet-mr, without the Spark schema
    * Spark's own writer stores in the footer (the reader prefers that
    * schema over the reader confs): a NANOS and a local MICROS timestamp,
    * an unannotated binary and a required column. */
  private def writeRawParquet(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message t {
        |  required int64 id;
        |  optional int64 ts_nanos (TIMESTAMP(NANOS,true));
        |  optional int64 ts_local (TIMESTAMP(MICROS,false));
        |  optional binary raw;
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts_nanos", 1755000123456789000L)
      .append("ts_local", 1755000123456789L).append("raw", Binary.fromString("hi")))
    finally w.close()
  }

  test("on a file without Spark's footer schema, the flips change the type and the cache follows") {
    withTable(writeRawParquet) { path =>
      val s = spark.newSession()
      def typeOf(field: String, key: String, v: String): String = {
        s.conf.set(key, v)
        val schema = Tables.read(s, path).schema
        assert(schema == s.read.parquet(path).schema, s"$key=$v: cached $schema differs from a cold read")
        schema(field).dataType.typeName
      }
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assert(Tables.read(s, path).schema("id").nullable == s.read.parquet(path).schema("id").nullable)
      val flips = Seq(
        ("raw", "spark.sql.parquet.binaryAsString", "false", "binary", "true", "string"),
        ("ts_local", "spark.sql.parquet.inferTimestampNTZ.enabled", "true", "timestamp_ntz", "false", "timestamp"))
      flips.foreach { case (field, key, v1, t1, v2, t2) =>
        assert(typeOf(field, key, v1) == t1 && typeOf(field, key, v2) == t2 && typeOf(field, key, v1) == t1,
          s"$field under $key")
      }
      assert(typeOf("ts_nanos", "spark.sql.legacy.parquet.nanosAsLong", "true") == "long")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val cold = intercept[Exception](s.read.parquet(path).schema)
      val cached = intercept[Exception](Tables.read(s, path).schema)
      assert(cached.getClass == cold.getClass, s"NANOS without nanosAsLong: cached $cached, cold $cold")
    }
  }

  test("a mergeSchema read bypasses the cache") {
    import spark.implicits._
    withTable { p =>
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(s"$p/k=1")
      Seq((2L, 3.0)).toDF("id", "x").coalesce(1).write.parquet(s"$p/k=2")
    } { path =>
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.mergeSchema", "true")
      val (first, infers1, _) = schemaOf(Tables.read(s, path))
      val (second, infers2, _) = schemaOf(Tables.read(s, path))
      assert(infers1 == 1 && infers2 == 1, s"merging reads inferred $infers1 and $infers2 times")
      assert(first == second && first == s.read.parquet(path).schema)
      assert(Set("id", "s", "x", "k").subsetOf(first.fieldNames.toSet), s"not merged: $first")
    }
  }

  test("a cached load's schema and rows equal an uncached read's, for every base table") {
    Tables.all.foreach { t =>
      val s = spark.newSession()
      Tables.load(s, sf, t).schema
      val (cached, infers, _) = measured(Tables.load(s, sf, t))
      assert(infers == 0, s"$t: a repeated load inferred again")
      val cold = s.read.parquet(s"$sf/$t.parquet")
      assert(cached.schema == cold.schema, s"$t: cached ${cached.schema}, cold ${cold.schema}")
      assert(cached.collect().toSeq == cold.collect().toSeq, s"$t: rows differ")
    }
  }
}
