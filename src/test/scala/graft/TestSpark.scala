package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all specs (t1 tier runs on sf0.001). */
object TestSpark {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = Harness.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 8)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
