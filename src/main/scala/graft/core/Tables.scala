package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the synthetic benchmark tables (`TESTDATA.md`).
  *
  * All scans are plain `spark.read.parquet` DataFrames so Catalyst is free
  * to push filters and column projections into the parquet reader — at the
  * 100 TB target the scan is the dominant cost and `PushedFilters` /
  * `ReadSchema` pruning is what makes every downstream operator viable.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Idempotent: guarantees the engine's native functions (ws_tokens,
    // shingle_set, minhash_sig, simhash64, vec_dot, ...) resolve in any
    // query built over these tables, whatever session the harness passes.
    graft.functions.VectorExpressions.register(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** Conditional fan-out for a SINGLE genuinely CPU-bound consumer (the
    * variant-encode query): repartition only when the local scan is
    * under-parallel; a no-op at corpus scale. NOT applied table-wide:
    * measured across the 31 documents/events consumers at sf0.1, a
    * blanket fan-out LOST ~9 s net — the keyless repartition pays a
    * local sort of its input (SPARK-23207) plus an extra stage, and
    * most text kernels (native codegen tokenizers, µs/row) don't have
    * enough per-row CPU to repay it; only variant/JSON encoding
    * (100s of µs/row) does. */
  def fanOutIfNarrow(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Normalize an events frame's `ts` to session-zone `TimestampType`,
    * whatever encoding the parquet carried. Generations of the synthetic
    * testdata have used two: `TIMESTAMP(NANOS)` (Spark's reader rejects
    * it unless read as a raw long via `nanosAsLong` — integer-divide to
    * micros) and `TIMESTAMP(MICROS)` without UTC adjustment (reads as
    * `TIMESTAMP_NTZ`; the cast is value-identical under the engine's
    * fixed UTC session zone). All branches stay inside whole-stage
    * codegen. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("CAST(ts DIV 1000 AS LONG)")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** [[normalizeEventTs]]'s NTZ→TZ cast (and the raw loader's reverse
    * `unix_micros` extraction) are value-preserving only under a UTC
    * session zone — under any other zone the cast silently SHIFTS every
    * timestamp by the zone offset. The engine's own drivers (Bench,
    * Verify, the test base) all pin UTC, but the loaders are public
    * API: pin it here too, next to the `nanosAsLong` conf they already
    * set, so a caller with a wall-clock session zone gets the same
    * timestamps instead of silently shifted ones. */
  private def pinEventConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** The events stream table with `ts` as a session-zone timestamp. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    pinEventConfs(spark)
    normalizeEventTs(table(spark, dir, "events"))
  }

  /** Raw events with `ts` as nanosecond epoch long (whatever the
    * parquet encoding — micros-encoded files are scaled up). */
  def eventsRawNanos(spark: SparkSession, dir: String): DataFrame = {
    pinEventConfs(spark)
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }
  }
}
