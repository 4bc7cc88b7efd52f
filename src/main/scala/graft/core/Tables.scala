package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders for the driver-generated TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md, FIXTURES.md). Reference capability surface
  * per SURVEY.md §2 (the reference repo is a 1-line stub:
  * /root/reference/README.md:1 — the declared inventory is the contract).
  *
  * 100 TB notes: each table is a plain parquet scan — Spark's vectorized
  * reader + Catalyst pushdown (filters/column pruning reach the scan) mean
  * these loaders are the right primitive at any scale; partition discovery
  * and predicate pushdown happen per-file, so a 100 TB lineitem directory
  * behaves identically to the single test file.
  *
  * A table's schema is a build-once artifact ([[BuildOnce]], keyed by the
  * table's file fingerprint): it is inferred by one footer-read Spark job
  * per JVM and file version, and every read passes it to the reader, so
  * a read plans and scans but runs no inference job. The key needs no
  * session conf: the one conf that changes an inferred type here is
  * `nanosAsLong` (`events.ts`), and every session is built by
  * [[graft.Harness.builder]], which sets it.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // legacy TIMESTAMP(NANOS) events read as a nanos Long (not a
    // PARQUET_TYPE_ILLEGAL failure) because every session is built with
    // `nanosAsLong` on (Harness.builder); eventsRaw normalizes the type
    val path = s"$dir/$name.parquet"
    val schema = BuildOnce("table-schema", (), path)(spark.read.parquet(path).schema)
    Schemas.assertMatches(name, schema) // fail fast on testdata drift (§1.3)
    spark.read.schema(schema).parquet(path)
  }

  /** `events.parquet` has shipped `ts` under different physical types across
    * testdata generations: parquet TIMESTAMP(NANOS) (which the Spark 4 reader
    * surfaces as a raw nanosecond Long under the legacy `nanosAsLong` conf),
    * and TIMESTAMP_MICROS with isAdjustedToUTC=0 (which Spark 4 reads
    * natively as TIMESTAMP_NTZ). Normalize every variant to a proper
    * session-TZ TimestampType by branching on the LOADED schema, so a
    * driver-side data regeneration can never break callers again. The
    * session is pinned UTC, so NTZ → TZ is a lossless reinterpretation.
    * 100 TB note: either branch is a codegen'd per-row projection on the
    * scan output — no extra pass, no shuffle. */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => // legacy TIMESTAMP(NANOS) read as nanos Long
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // TIMESTAMP_MICROS, isAdjustedToUTC=0
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: expected LongType (nanos), TIMESTAMP_NTZ or TIMESTAMP, got $other")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Register all tables as temp views so spark.sql(...) queries (engine
    * entry point E1, SURVEY §3) can reference them by name. */
  def registerAll(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
    events(s, d).createOrReplaceTempView("events") // needs the nanos fix
  }
}
