package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each loader is a plain parquet scan: column pruning and predicate
  * pushdown happen in Catalyst based on what the query selects, so the
  * scan reads only the needed columns/row-groups at any scale.
  *
  * Each table's schema is inferred once: inferring it is a Spark job
  * that reads a parquet footer, and the loaders have hundreds of call
  * sites (a cold document pipeline inferred `documents` 11 times).
  * The first read infers; later reads pass the known schema, which
  * starts no job. The memo is the `table_schema` [[SessionArtifact]],
  * keyed on
  *  - the session, and the session's parquet confs (every conf whose
  *    name mentions parquet): inference reads them, e.g.
  *    `spark.sql.legacy.parquet.nanosAsLong` decides whether a
  *    TIMESTAMP(NANOS) column is a long or an error;
  *  - the table's path and the length and mtime of every file under it
  *    ([[graft.storage.ArtifactStore.fingerprint]]), so a table
  *    rewritten in place is inferred again, whether it is one file or
  *    a directory of part files.
  * Known limit, as for the store: the fingerprint stats local files
  * only, so a remote URI keys on its path alone and a remote table
  * rewritten within one session keeps its first schema.
  */
object Tables {
  private val schemas =
    SessionArtifact.value[(String, Map[String, String]), StructType]("table_schema") {
      (spark, path, _) => spark.read.parquet(path).schema
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val parquetConfs = spark.conf.getAll.filter(_._1.contains("parquet"))
    val schema = schemas(spark, path, (graft.storage.ArtifactStore.fingerprint(path), parquetConfs))
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  /** events.parquet has shipped `ts` three ways across driver rounds:
    * INT64 TIMESTAMP(NANOS) (readable only with
    * `spark.sql.legacy.parquet.nanosAsLong`, which sessions set at build
    * time — then surfaced as LongType nanos), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (surfaced as TimestampNTZType), and plain
    * UTC-adjusted TIMESTAMP(MICROS) (TimestampType). Dispatch on the
    * read schema so every generation surfaces as TimestampType with the
    * same epoch-micros values: sessions pin
    * `spark.sql.session.timeZone=UTC` (LocalSession/SparkTestBase), so
    * the NTZ wall-clock cast is the identity on the underlying micros,
    * and the nanos convert losslessly (the generator emits
    * microsecond-resolution values).
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ→TimestampType cast interprets wall-clock values in the
        // SESSION timezone; only UTC makes it the identity on the
        // underlying micros. Enforce the convention instead of relying
        // on it (the nanosAsLong-contract discipline) — a session
        // without the pin would silently shift every event timestamp.
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        require(tz == "UTC",
          s"Tables.events: events.ts is TIMESTAMP_NTZ and the session " +
            s"timezone is '$tz' — the TimestampType cast is only " +
            "epoch-preserving under spark.sql.session.timeZone=UTC " +
            "(LocalSession/SparkTestBase pin it; pin it in custom sessions too)")
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Fan a CPU-bound narrow stage out to every core when the upstream
    * scan would produce fewer splits than the cluster's parallelism.
    *
    * Why it exists: the fixture tables are single small parquet files,
    * so a scan yields ONE input split and every regex/kernel map runs
    * on one task while 31 cores idle. At production scale a table scan
    * yields >= cores splits and this is a no-op — the guard ensures the
    * repartition can only ADD parallelism, never an unnecessary
    * shuffle. (Spark's AQE splits skewed join/agg partitions but never
    * widens a narrow map over a small scan; `repartition` is the
    * documented tool for that.)
    *
    * The split estimate is max(#input files, scan bytes / the session's
    * files.maxPartitionBytes) — both read off the ANALYZED logical plan
    * (`inputFiles` + logical stats), so probing it never compiles a
    * physical plan or builds an RDD (the previous
    * `df.rdd.getNumPartitions` probe physically planned every input
    * twice). The estimate can only under- or over-count toward MORE
    * parallelism on scan-stage inputs; by convention fanOut is applied
    * to scans (and cheap projections of scans) only — a complex
    * upstream plan should size its own exchanges.
    *
    * Only for partitioning-INDEPENDENT computations (per-row kernels,
    * commutative aggregations) — anything per-partition-stateful
    * (greedy sequence packing) must keep its input partitioning.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // a micro-batch sink builds its plan once, before any batch has
    // files or a size: every batch takes the unknown-size branch
    if (graft.ext.Freeze.readsMicroBatch(df)) return df.repartition(target)
    val nFiles = df.inputFiles.length.toLong
    val maxSplitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val scanBytes = df.queryExecution.analyzed.stats.sizeInBytes
    // clamped: a 0/negative maxPartitionBytes must not throw, a huge
    // sizeInBytes must not overflow toLong into an arbitrary value, and
    // UNKNOWN stats (defaultSizeInBytes sentinel) mean "cannot rule out
    // a small input" → repartition, the only safe direction for fanOut
    val unknown = scanBytes == BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val estSplits = (BigInt(nFiles) max (scanBytes / maxSplitBytes.max(1L)))
      .min(BigInt(Int.MaxValue)).toLong
    if (unknown || estSplits < target) df.repartition(target) else df
  }
}
