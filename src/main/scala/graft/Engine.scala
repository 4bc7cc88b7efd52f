package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.plans.GraftFunctions

/** The engine facade — the three entry points of SURVEY §3 packaged for a
  * user switching from the reference:
  *
  *  - E1 `Engine.sql`: ANSI SQL over the registered star schema + stream
  *    + LLM tables (Catalyst parse → analyze → optimize → execute).
  *  - E2: the DataFrame/Dataset query library (`SparkEntry.queries`).
  *  - E3: streaming jobs (`graft.streaming.Streams`).
  *
  * `open` is idempotent per session: registers every table as a temp view
  * (with the events nanos fix applied) and the native function surface.
  */
object Engine {

  /** A correctly-configured session: `Harness.builder`'s shared confs,
    * AQE on, native functions injected at build time. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32,
              checksumFreeFs: Boolean = false): SparkSession = {
    val s = Harness.builder(checksumFreeFs)
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    GraftFunctions.ensure(s) // cover the getOrCreate-reuses-session case
    s
  }

  /** Register the data directory's tables + native functions + the
    * scalar UDF surface, so SQL-text callers see the full engine. */
  def open(spark: SparkSession, dir: String): SparkSession = {
    Tables.registerAll(spark, dir)
    GraftFunctions.ensure(spark)
    graft.llm.Llm.registerSqlUdfs(spark)
    spark
  }

  /** E1 — SQL text in, DataFrame out. */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)
}
