package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Spark jobs per warm run of each named query: every query runs once
  * cold, then once more counted (micro-batch jobs included, since the
  * listener counts every job of the context). Prints one
  * `[census] <name> jobs=<n>` line per query.
  *
  * {{{
  * SPARK_GRAFT_CPUS=3 sbt "Test/runMain graft.JobCensus <sfDir> <query>..."
  * }}} */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val sf = args.head
    val s = Harness.session()
    val sc = s.sparkContext
    val jobs = new AtomicInteger
    val sentinels = ConcurrentHashMap.newKeySet[Int]()
    @volatile var settled = new CountDownLatch(1)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == "census-sentinel"))
          sentinels.add(e.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinels.contains(e.jobId)) settled.countDown()
    })
    // jobs counted so far, read after a sentinel job's end: the listener
    // bus is asynchronous but delivers events in order
    def settle(): Int = {
      settled = new CountDownLatch(1)
      sc.setJobGroup("census-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(settled.await(60, TimeUnit.SECONDS), "sentinel never ended")
      jobs.get
    }
    args.tail.foreach { q =>
      val run = SparkEntry.queries(q)
      Harness.timeOnce(run(s, sf))
      val start = settle()
      Harness.timeOnce(run(s, sf))
      println(s"[census] $q jobs=${settle() - start}")
    }
    s.stop()
  }
}
