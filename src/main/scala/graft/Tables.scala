package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scans stay fully declarative (`spark.read.parquet`) so Catalyst gets
  * predicate pushdown + column pruning for free; at cluster scale the same
  * call reads a partitioned directory and `spark.sql.files.maxPartitionBytes`
  * controls split sizing — no custom split planning is needed (the reference's
  * `GuaguaInputFormat` bin-packing, guagua-mapreduce/GuaguaInputFormat.java:78-216,
  * is subsumed by Spark's file-source packing).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-directory source-format overrides (the `-inputformat` analogue,
    * see [[graft.sources.SourceFormat]]). Keyed by the data dir — a format
    * describes how THAT directory is encoded, so registration never leaks
    * into unrelated directories (or concurrently-running suites).
    */
  private val formats =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sources.SourceFormat]()
  private val parquetFormat = new graft.sources.ParquetFormat

  def registerFormat(sfDir: String, format: graft.sources.SourceFormat): Unit =
    formats.put(sfDir, format)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    formats.getOrDefault(sfDir, parquetFormat).load(spark, sfDir, name)

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  /** events.ts has shipped as TIMESTAMP(NANOS), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) and could plausibly ship adjusted-to-UTC; the
    * generator has already changed it once mid-project, so branch on the
    * *scanned* dtype instead of assuming one encoding:
    *   - LongType (nanos under the legacy flag): rebuild a microsecond
    *     TimestampType with exact integer arithmetic (ns div 1000 — no
    *     double round-trip, which would lose precision above 2^53 ns);
    *   - TimestampNTZType (micros, not UTC-adjusted): cast to TimestampType.
    *     Session TZ is pinned to UTC everywhere (GraftSession), so the cast
    *     reinterprets the same micros value without shifting the instant;
    *   - TimestampType: pass through.
    * Every downstream consumer (j3, w1–w10) sees one stable
    * contract: ts is TimestampType in UTC micros.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — extend Tables.events")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
