package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the TPC-H-ish test corpus.
  *
  * All graft queries read through here so scan-level concerns (format,
  * pushdown-friendly options) live in one place. At 100 TB these would be
  * catalog tables with Z2/date clustering; the API is the same.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects. Read it as raw nanos (legacy conf) and convert to a proper
    * TimestampType column (µs precision) at scan time.
    *
    * This is the one place that sets the conf: the guard below sets it
    * on first use in any session, however it was built, and never flips
    * an explicitly-set value back (write-once, same value — no restore,
    * so no race with concurrent plan building).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!s.conf.getOption(key).contains("true")) s.conf.set(key, "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) surfaced as raw nano longs by the legacy conf
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4 surfaces it
      // as TIMESTAMP_NTZ, which rejects numeric casts (Sessionize's
      // seconds math) and diverges from the TimestampType the rest of
      // the engine and the oracle contract assume. The session zone is
      // pinned to UTC, so this cast maps wall-clock to the same instant
      // the old nano feed produced.
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      // already a native TimestampType column (µs-precision feeds)
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
