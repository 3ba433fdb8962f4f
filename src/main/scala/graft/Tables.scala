package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take a scale-factor directory so the same plan runs at
  * sf0.001 (smoke), sf0.01 (correctness) and sf0.1+ (bench). At cluster
  * scale these would be external tables; the access pattern (column-pruned,
  * filter-pushed parquet scans) is identical.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Base table `name` of the corpus in `dir`, read through [[read]]
    * once [[GraftSession.install]] has set graft's confs on `spark`:
    * loading a base table is the first thing a query does with its
    * session, and a reader that is not a `SparkEntry.queries` entry (the
    * MapReduce facade's input, whose `Dataset.rdd` is the session's
    * first SQL execution) must not fix the session's codegen class
    * loader before the install. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(GraftSession.install(spark), s"$dir/$name.parquet")

  /** What an inferred schema depends on besides the path: the
    * SparkContext, the data files' (path, length, mtime) and the set
    * reader confs. */
  private final case class SchemaKey(app: String, files: Seq[(String, Long, Long)],
    confs: Seq[(String, String)])

  /** Qualified path → (key, inferred schema). One entry per path,
    * replaced when the key changes, so the map holds at most one schema
    * per distinct path the process has read. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (SchemaKey, StructType)]()
  private val infers = new java.util.concurrent.atomic.AtomicLong()

  /** How many [[read]] calls inferred a schema (a footer job each) since
    * the JVM started; Bench reports the per-query delta. */
  def schemaInfers: Long = infers.get

  /** The parquet table at `path`, its schema inferred at most once per
    * SparkContext. The only place graft infers the schema of a table it
    * owns: the base tables ([[load]]) and the memo tables read back.
    *
    * Inference (`read.parquet` with no schema) runs a one-task footer
    * job on every call; with the schema given, Spark still lists the
    * files but runs no job. The cached schema is served only while all
    * of these are unchanged: the SparkContext, the qualified path, the
    * (path, length, mtime) of every data file under it, and every set
    * session conf the parquet schema converter can read (the
    * `spark.sql.parquet.`, `spark.sql.legacy.parquet.` and
    * `spark.sql.variant.` families, plus `spark.sql.caseSensitive`).
    * With schema merging on, every call infers: merging reads every
    * footer by definition. */
  def read(s: SparkSession, path: String): DataFrame = {
    def infer(): DataFrame = { infers.incrementAndGet(); s.read.parquet(path) }
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    // a missing path fails inside Spark's reader, with Spark's error
    if (s.sessionState.conf.isParquetSchemaMergingEnabled || !fs.exists(qualified)) infer()
    else {
      val key = SchemaKey(s.sparkContext.applicationId, dataFiles(fs, qualified),
        s.conf.getAll.toSeq.filter { case (k, _) =>
          k == "spark.sql.caseSensitive" ||
            Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.variant.").exists(k.startsWith)
        }.sorted)
      Option(schemas.get(qualified.toString)) match {
        case Some((k, schema)) if k == key => s.read.schema(schema).parquet(path)
        case _ =>
          val df = infer()
          schemas.put(qualified.toString, key -> df.schema)
          df
      }
    }
  }

  /** Sorted (path, length, mtime) of the data files under `p`, skipping
    * `_` and `.` names as Spark's file listing does. */
  private def dataFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
          .flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    walk(fs.getFileStatus(p)).sorted
  }

  /** Small scans (one parquet file = one split) serialize compute-heavy
    * per-row stages on a single core; spread them when the scan has fewer
    * splits than cores. A 100 TB scan already has thousands of splits, so
    * this is a no-op there — the condition, not the repartition, is the
    * scale-honest part.
    *
    * Split count is estimated from file metadata (`inputFiles` + file
    * lengths vs `spark.sql.files.maxPartitionBytes` — the same formula
    * FilePartition packing uses, ignoring openCostInBytes so the estimate
    * is a lower bound that errs toward repartitioning tiny scans).
    * Deliberately NOT `df.rdd.getNumPartitions`: that instantiates a
    * throwaway RDD lineage (full analysis + physical planning) per call
    * just to read a number. */
  def parallelize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val hconf = spark.sparkContext.hadoopConfiguration
    val splits = df.inputFiles.map { f =>
      val p = new Path(f)
      val len = p.getFileSystem(hconf).getFileStatus(p).getLen
      math.max(1L, (len + maxBytes - 1) / maxBytes)
    }.sum
    if (splits < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Normalize `ts` to a session-timezone TIMESTAMP regardless of how the
    * generator wrote it. Historical layouts seen from the driver:
    *   - TIMESTAMP(NANOS): rejected by Spark's reader, so it arrives as a
    *     raw nanos-epoch long under `nanosAsLong` — convert with INTEGER
    *     division (`/` on a long column is double division, and epoch
    *     nanos ~1.7e18 exceed double's 53-bit mantissa — measured 1.6% of
    *     events off by 1 µs via the float path);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ — cast to TIMESTAMP (identical instant under the
    *     UTC session timezone every graft entrypoint pins);
    *   - TIMESTAMP: already canonical. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** events.parquet: read and normalize `ts` (see [[normalizeTs]]). */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
