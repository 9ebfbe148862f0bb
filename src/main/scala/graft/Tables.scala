package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Central table loaders for the driver-generated testdata
  * (`/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, see TESTDATA.md).
  *
  * Every analytic is a pure function `(SparkSession, sfDir) => DataFrame`
  * reading only through these loaders, so the scan layer (format,
  * pushdown, pruning) is controlled in one place. Parquet scans get
  * predicate pushdown + column pruning from Catalyst automatically; at
  * cluster scale these would be partitioned/bucketed tables behind the
  * same interface.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path goes through here: make sure the session has the
    // engine's native expressions (idempotent)
    graft.functions.GraftExpressions.register(spark)
    read(spark, s"$sfDir/$name.parquet")
  }

  /** `spark.read.parquet(path)` without Parquet schema inference, which
    * is a Spark job reading footers (one ~30 ms job per table read on a
    * warm local[4] session): the schema comes from [[schemaOf]], the
    * plan and the scan stay per call.
    */
  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** Session confs that change what Parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** (qualified path, [[InferenceConfs]] values) → (listing stamp,
    * inferred schema). One entry per path and conf combination: a
    * rewritten table replaces its entry instead of adding one. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[Option[String]]), (Seq[(String, Long, Long)], StructType)]

  /** The schema `spark.read.parquet(path)` would infer, inferred once
    * per path, listing stamp and inference conf. The stamp is every
    * file under `path` as (name, length, mtime) from a Hadoop
    * `FileSystem` listing, which runs no job: a table rewritten in
    * place is re-inferred on its next read.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // a missing table fails below, with Spark's own PATH_NOT_FOUND error
    val stamp = try {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    } catch { case _: java.io.FileNotFoundException => Nil }
    val key = (fs.makeQualified(p).toString, InferenceConfs.map(spark.conf.getOption))
    schemas.get(key) match {
      case (`stamp`, schema) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (stamp, schema))
        schema
    }
  }

  /** `events.parquet`'s resolved schema, `ts` as stored: the legacy
    * nanos-as-long conf is set first (see [[normalizeEventsTs]]). The
    * batch loader and [[graft.streaming.StreamingAnalytics.eventsStream]]
    * read with it, so both see the same columns.
    */
  def eventsSchema(spark: SparkSession, sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaOf(spark, s"$sfDir/events.parquet")
  }

  /** `events.parquet` has shipped `ts` in two encodings across data
    * generations; batch and stream reads both normalize them to a
    * session-tz TIMESTAMP here:
    *
    *  - parquet TIMESTAMP(NANOS): the Spark vectorized reader rejects
    *    it outright ([PARQUET_TYPE_ILLEGAL]); read nanos as Long
    *    (legacy conf) and convert with *integer* division — epoch-nanos
    *    ≈ 1.7e18 exceeds double's 2^53 exact-integer range, so `/ 1000`
    *    via doubles would corrupt low bits. The data is µs-exact
    *    (verified: 0 rows with ns%1000 != 0).
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark
    *    TIMESTAMP_NTZ: cast to TIMESTAMP under the UTC session tz —
    *    identical wall-clock instants, matching DuckDB's naive
    *    TIMESTAMP view bit-for-bit.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => raw
    case other => throw new IllegalStateException(
      s"events.ts: unsupported parquet encoding $other")
  }

  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventsTs(spark.read.schema(eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/events.parquet"))

  /** Register every table as a temp view so the whole surface is
    * reachable from `spark.sql(...)` (the oracle SQL in SparkEntry runs
    * near-verbatim this way — DuckDB↔Spark SQL differences are mostly
    * `time_bucket`/`json_extract_string` spellings).
    */
  def createViews(spark: SparkSession, sfDir: String): Unit = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
    events(spark, sfDir).createOrReplaceTempView("events")
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
