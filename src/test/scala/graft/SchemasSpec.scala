package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Schemas, Tables}

/** Pin the §1.3 load-time schema assertion: real testdata loads clean;
  * deliberately mis-typed parquet fails with a named-column diagnosis
  * (the r9 incident surfaced as 35 cryptic analysis errors instead). */
class SchemasSpec extends AnyFunSuite {
  test("all declared tables load and pass the schema assertion") {
    Schemas.declared.keys.foreach { t =>
      assert(Tables.t(TestSpark.spark, TestSpark.Sf, t).schema.nonEmpty)
    }
  }

  test("events.ts normalizes to session-TZ TimestampType") {
    val dt = Tables.events(TestSpark.spark, TestSpark.Sf).schema("ts").dataType
    assert(dt == org.apache.spark.sql.types.TimestampType, dt.toString)
  }

  test("mis-typed column fails fast with a named-column message") {
    val s = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    // 'events' with ts as a String — drift that must be caught at load
    Tables.events(s, TestSpark.Sf)
      .withColumn("ts", col("ts").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.t(s, dir, "events"))
    assert(e.getMessage.contains("events.ts"), e.getMessage)
    assert(e.getMessage.contains("drift"), e.getMessage)
  }

  test("raw-Long timestamp is tolerated ONLY for events.ts (the one " +
       "column with a nanos normalizer)") {
    val s = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("drift3").toString
    // orders with o_orderdate as epoch-long: the exact r9 drift class on
    // a column Tables does NOT normalize — must fail with the name
    Tables.t(s, TestSpark.Sf, "orders")
      .withColumn("o_orderdate",
        unix_micros(col("o_orderdate").cast("timestamp")))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalArgumentException](Tables.t(s, dir, "orders"))
    assert(e.getMessage.contains("orders.o_orderdate"), e.getMessage)
  }

  test("missing/renamed column fails fast naming the column sets") {
    val s = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("drift2").toString
    Tables.t(s, TestSpark.Sf, "documents").drop("lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException](Tables.t(s, dir, "documents"))
    assert(e.getMessage.contains("documents"), e.getMessage)
    assert(e.getMessage.contains("lang"), e.getMessage)
  }

  /** A fresh temp dir holding a copy of one seed table. */
  private def tableCopy(table: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("schemamemo")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSpark.Sf, s"$table.parquet"),
      dir.resolve(s"$table.parquet"))
    dir.toString
  }

  /** Spark jobs that `body` starts on this thread. The listener bus is
    * asynchronous, so the count is read only after the end of a sentinel
    * job run after `body` has been delivered. */
  private def jobsOf(s: org.apache.spark.sql.SparkSession)(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val group = s"schema-pin-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)           => jobs.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => sentinelJob.set(e.jobId)
          case _                       =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) sentinelDone.countDown()
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job end never reached the listener")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a table rewritten in place is inferred again: the schema memo " +
       "keys on the file fingerprint") {
    val s = TestSpark.spark
    val dir = tableCopy("orders")
    Tables.t(s, dir, "orders") // memoizes the clean schema
    Tables.t(s, TestSpark.Sf, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("string"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalArgumentException](Tables.t(s, dir, "orders"))
    assert(e.getMessage.contains("orders.o_totalprice"), e.getMessage)
    assert(e.getMessage.contains("drift"), e.getMessage)
  }

  test("a table's schema costs one Spark job per file version: the first " +
       "read infers it, a read from a new session runs no job") {
    val s = TestSpark.spark
    val dir = tableCopy("nation")
    assert(jobsOf(s)(Tables.t(s, dir, "nation")) === 1)
    val child = s.newSession()
    assert(jobsOf(child)(Tables.t(child, dir, "nation")) === 0)
  }
}
